"""X9 — --py-files artifact: the zip must be importable standalone and
carry the pipeline config (reference ``utils/package.py`` analogue)."""

from __future__ import annotations

import json
import subprocess
import sys
import zipfile


def test_pyfiles_zip_is_importable(tmp_path):
    from edspdf_spark.packaging import build_pyfiles_zip
    from edspdf_spark.plans import Pipeline

    pipe = Pipeline.from_config(
        {
            "pipeline": ["e"],
            "components": {"e": {"@factory": "extractor", "extract_style": False}},
        }
    )
    art = str(tmp_path / "edspdf_spark.zip")
    build_pyfiles_zip(art, pipeline=pipe)

    names = zipfile.ZipFile(art).namelist()
    assert "edspdf_spark/__init__.py" in names
    assert "edspdf_spark/operators/extract.py" in names
    assert all(n.endswith((".py", ".json")) for n in names)

    cfg = json.loads(zipfile.ZipFile(art).read("edspdf_spark_artifact/config.json"))
    assert cfg == pipe.to_config()

    # a clean interpreter with ONLY the zip on sys.path must import the
    # package and rebuild the pipeline (what --py-files does on executors)
    code = (
        "import sys; sys.path.insert(0, sys.argv[1]);\n"
        "import json, zipfile\n"
        "from edspdf_spark.plans import Pipeline\n"
        "cfg = json.loads(zipfile.ZipFile(sys.argv[1]).read('edspdf_spark_artifact/config.json'))\n"
        "p = Pipeline.from_config(cfg)\n"
        "print('STAGES', len(p.stages))\n"
    )
    out = subprocess.run(
        [sys.executable, "-c", code, art],
        capture_output=True,
        text=True,
        cwd=str(tmp_path),  # away from the repo so the zip is the only source
        check=True,
    )
    assert "STAGES 1" in out.stdout
