"""Correctness gates: order-free digests of extraction output and of the
pair-stage result tables.

Extraction: each output row ``(url, fmt, markdown, error)`` is hashed with
SHA-256; the gate compares the row count and two 60-bit slices of the
hashes summed over all rows with the same sums over the expected rows. A
missing, duplicated or changed row moves the sums. The Spark side
computes the same values as aggregates, so a gate can ride on the timed
job as an ``observe`` without an exchange. A separate count catches rows
that carry both or neither of markdown and error.

Pair stages: the result table (columns sorted by name, values rendered
canonically, rows sorted) is hashed as a whole.
"""

from __future__ import annotations

import hashlib

SEP = "\x1f"
NUL = "\x00"
COLS = ("url", "fmt", "markdown", "error")


def _key(url, fmt, md, err) -> str:
    return SEP.join(NUL if v is None else v for v in (url, fmt, md, err))


def digest_rows(rows) -> dict:
    """Expected side: rows of ``(url, fmt, markdown, error)``."""
    n = s1 = s2 = 0
    for r in rows:
        h = hashlib.sha256(_key(*r).encode("utf-8")).hexdigest()
        n += 1
        s1 += int(h[0:15], 16)
        s2 += int(h[15:30], 16)
    return {"rows": n, "s1": str(s1), "s2": str(s2)}


def spark_digest_exprs():
    """The same digest as Spark aggregates, plus the markdown-XOR-error
    violation count (``bad``)."""
    from pyspark.sql import functions as F
    parts = []
    for c in COLS:
        parts += [F.coalesce(F.col(c), F.lit(NUL)), F.lit(SEP)]
    h = F.sha2(F.concat(*parts[:-1]), 256)

    def slice_sum(pos):
        return F.sum(F.conv(F.substring(h, pos, 15), 16, 10)
                     .cast("decimal(20,0)"))
    return [
        F.count(F.lit(1)).alias("rows"),
        slice_sum(1).alias("s1"),
        slice_sum(16).alias("s2"),
        F.sum(F.when(F.col("markdown").isNull() == F.col("error").isNull(),
                     1).otherwise(0)).alias("bad"),
    ]


def check_digest(got: dict, expected: dict) -> list[str]:
    """→ list of failure reasons (empty when the gate is green)."""
    errs = []
    if int(got.get("bad") or 0):
        errs.append(f"{got['bad']} rows carry both or neither of "
                    f"markdown/error")
    for k in ("rows", "s1", "s2"):
        if str(int(got[k] or 0)) != str(expected[k]):
            errs.append(f"digest {k}: got {int(got[k] or 0)}, "
                        f"want {expected[k]}")
    return errs


def _render(v) -> str:
    if v is None:
        return "∅"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, float):
        return repr(round(v, 9))
    if hasattr(v, "as_tuple"):          # Decimal
        return repr(round(float(v), 9))
    return str(v)


def table_digest(cols, rows) -> dict:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("\t".join(_render(r[i]) for i in order) for r in rows)
    h = hashlib.sha256("\n".join(lines).encode("utf-8")).hexdigest()
    return {"rows": len(lines), "sha256": h}
