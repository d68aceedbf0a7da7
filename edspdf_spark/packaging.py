"""X9 — artifact packaging for cluster submission.

The reference ships pipelines as pip wheels (``utils/package.py``, 396 LoC
of poetry scaffolding) because its workers must import the trained pipeline
as a python package. On Spark the equivalent is a ``--py-files`` zip: the
package source plus the pipeline's JSON config artifact, importable on
every executor. ``spark-submit --py-files edspdf_spark.zip job.py`` is the
whole deployment story; trained forest models ride the UDF closure
(cloudpickle), so no weight files are needed in the artifact.
"""

from __future__ import annotations

import os
import zipfile
from typing import Optional


def build_pyfiles_zip(
    out_path: str,
    pipeline=None,
    extra_files: Optional[dict] = None,
) -> str:
    """Zip the ``edspdf_spark`` package (and, optionally, a pipeline's
    ``config.json`` plus caller-supplied ``{arcname: path}`` extras) into a
    ``--py-files``-ready artifact. Returns ``out_path``.

    ≙ reference ``Pipeline.package()`` (``pipeline.py:891-922`` →
    ``utils/package.py``): same purpose — make the pipeline importable on
    remote workers — minus the wheel/poetry machinery Spark doesn't need.
    """
    pkg_root = os.path.dirname(os.path.abspath(__file__))
    base = os.path.dirname(pkg_root)
    with zipfile.ZipFile(out_path, "w", zipfile.ZIP_DEFLATED) as zf:
        for dirpath, dirnames, filenames in os.walk(pkg_root):
            dirnames[:] = [d for d in dirnames if d != "__pycache__"]
            for fn in filenames:
                if not fn.endswith(".py"):
                    continue
                full = os.path.join(dirpath, fn)
                zf.write(full, os.path.relpath(full, base))
        if pipeline is not None:
            import json

            zf.writestr(
                "edspdf_spark_artifact/config.json",
                json.dumps(pipeline.to_config(), indent=1, sort_keys=True),
            )
        for arcname, path in (extra_files or {}).items():
            zf.write(path, arcname)
    return out_path

