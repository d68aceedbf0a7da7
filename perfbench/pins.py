"""Reference pins: per-key digests of every pool's inputs and reference
output, committed under ``perfbench/pins/``.

The payload and web-page references are rebuilt in each checkout by the
engine's composed operators, which share per-document kernels
(``extract_doc_raw``, ``parse_payload``, ``extract_html_blocks``, …) with
the measured path, and the inputs come from the engine's generators
(``fixtures``, ``sources.pdfgen``). The pins hold both to the digests
taken when the benchmark was defined. A pool key whose rebuilt input or
reference digest differs from its pin is *disputed*, and every corpus url
drawn from it fails the output check, so a later change to a shared
kernel or a generator cannot pass by changing the reference with it.

Regenerate the pins only on purpose, after checking the new output:

    python3 perfbench/run.py --build-pools --write-pins
"""

from __future__ import annotations

import gzip
import hashlib
import json
import os

PIN_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "pins")
#: stands for "no reference digest" (the PDF oracle is closed-form SQL)
NONE = "-"


def digest(data: bytes) -> str:
    return hashlib.sha256(data).hexdigest()[:16]


def row_digests(rows: list[dict], key: str) -> dict[str, str]:
    """key → digest of that key's rows (every column but ``key``), as an
    order-free multiset."""
    by_key: dict[str, list[str]] = {}
    for r in rows:
        k = str(r[key])
        rest = {c: v for c, v in r.items() if c != key}
        by_key.setdefault(k, []).append(json.dumps(rest, sort_keys=True, ensure_ascii=False))
    return {k: digest("\n".join(sorted(v)).encode()) for k, v in by_key.items()}


def entries(keys, inputs, ref: dict[str, str] | None) -> dict[str, tuple[str, str]]:
    """key → (input digest, reference digest) of a pool; a key with no
    reference rows (a corrupt doc) gets the digest of the empty set."""
    empty = digest(b"")
    return {
        str(k): (digest(b), ref.get(str(k), empty) if ref is not None else NONE)
        for k, b in zip(keys, inputs)
    }


def _path(name: str) -> str:
    return os.path.join(PIN_DIR, f"{name}.tsv.gz")


def write(name: str, pool: dict[str, tuple[str, str]]) -> None:
    os.makedirs(PIN_DIR, exist_ok=True)
    # mtime=0: the same pins give the same bytes
    with open(_path(name), "wb") as raw, gzip.GzipFile(fileobj=raw, mode="wb", mtime=0) as f:
        for k in sorted(pool):
            f.write(f"{k}\t{pool[k][0]}\t{pool[k][1]}\n".encode())


def load(name: str) -> dict[str, tuple[str, str]]:
    with gzip.open(_path(name), "rt", encoding="utf-8") as f:
        return {k: (i, o) for k, i, o in (line.rstrip("\n").split("\t") for line in f)}


def disputed(name: str, pool: dict[str, tuple[str, str]]) -> list[str]:
    """Keys of the rebuilt ``pool`` whose digests differ from the pins
    (a key with no pin is disputed too)."""
    pinned = load(name)
    return sorted(k for k, v in pool.items() if pinned.get(k) != v)
