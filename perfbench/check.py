"""Output checks, evaluated in DuckDB so the checker shares no code with
the Spark path it checks.

Every workload reduces to two relations with the same columns, ``exp``
(the reference) and ``got`` (what the engine wrote). A url fails when any
of its rows is missing from, or extra in, ``got`` (multiset difference,
so a duplicated row fails too), or when it is drawn from a pool key whose
rebuilt input or reference differs from its pin (``pins.py``). Corrupt
inputs have no rows on either side, so the injected corrupt docs do not
count as failures.
"""

from __future__ import annotations

import duckdb

#: closed-form aggregated text of a PDF rendered by
#: ``sources.pdfgen.documents_to_pdfs(words_per_line=8, lines_per_page=5)``:
#: 8-word lines joined by '\n' within a page, pages joined by '\n\n'
PDF_ORACLE = r"""
WITH words AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS ws
  FROM ({documents}) AS documents
),
toks AS (
  SELECT doc_id, i, ws[i] AS w, (i - 1) // 8 AS line_idx
  FROM words, UNNEST(generate_series(1, len(ws))) AS g(i)
),
lines AS (
  SELECT doc_id, line_idx, string_agg(w, ' ' ORDER BY i) AS line
  FROM toks GROUP BY doc_id, line_idx
),
pages AS (
  SELECT doc_id, line_idx // 5 AS page_num,
         string_agg(line, chr(10) ORDER BY line_idx) AS ptext
  FROM lines GROUP BY doc_id, line_idx // 5
)
SELECT 'doc://' || doc_id AS url, 'body' AS label,
       string_agg(ptext, chr(10) || chr(10) ORDER BY page_num) AS text
FROM pages GROUP BY doc_id
"""


def _diff(exp: str, got: str) -> str:
    """Failing urls: rows differ, or the url is in the ``disputed_t``
    temp table."""
    return f"""
        WITH exp AS ({exp}), got AS ({got}),
        diff AS (
          (SELECT * FROM exp EXCEPT ALL SELECT * FROM got)
          UNION ALL
          (SELECT * FROM got EXCEPT ALL SELECT * FROM exp)
        )
        SELECT url FROM diff UNION SELECT url FROM disputed_t
    """


def failed_urls(con: duckdb.DuckDBPyConnection, exp: str, got: str) -> int:
    """Distinct urls whose rows differ between the ``exp`` and ``got``
    relations (SQL table expressions), plus the disputed ones."""
    return con.execute(f"SELECT count(*) FROM ({_diff(exp, got)})").fetchone()[0]


def self_test(con: duckdb.DuckDBPyConnection, exp: str, got: str) -> None:
    """Prove the check has teeth on this run's real output: altering one
    passing url's text, dropping a second's rows and duplicating a
    third's must raise the failure count by exactly three. With fewer
    than three passing urls the check is already failing the run, and
    there is nothing left to corrupt."""
    base = failed_urls(con, exp, got)
    urls = [
        r[0]
        for r in con.execute(
            f"""SELECT DISTINCT url FROM ({got})
                WHERE url NOT IN ({_diff(exp, got)}) ORDER BY url LIMIT 3"""
        ).fetchall()
    ]
    if len(urls) < 3:
        return
    a, b, c = (u.replace("'", "''") for u in urls)
    corrupted = f"""
        SELECT * REPLACE (CASE WHEN url = '{a}' THEN coalesce(text, '') || 'x'
                          ELSE text END AS text)
        FROM ({got}) WHERE url <> '{b}'
        UNION ALL SELECT * FROM ({got}) WHERE url = '{c}'
    """
    n = failed_urls(con, exp, corrupted)
    if n != base + 3:
        raise RuntimeError(
            f"output check has no teeth: 3 corrupted urls moved the failure "
            f"count from {base} to {n}"
        )


def verify(con: duckdb.DuckDBPyConnection, exp: str, got: str, disputed: str) -> int:
    """Failed urls of ``got`` against ``exp``, after the self-test;
    ``disputed`` selects the corpus urls whose pool key differs from its
    pin. The relations are materialized once so the diffs do not
    recompute them."""
    con.execute(f"CREATE OR REPLACE TEMP TABLE exp_t AS {exp}")
    con.execute(f"CREATE OR REPLACE TEMP TABLE got_t AS {got}")
    con.execute(f"CREATE OR REPLACE TEMP TABLE disputed_t AS SELECT url FROM ({disputed})")
    exp, got = "SELECT * FROM exp_t", "SELECT * FROM got_t"
    self_test(con, exp, got)
    return failed_urls(con, exp, got)
