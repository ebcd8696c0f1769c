"""Final-state check: row count plus an order-insensitive content-sha256
fingerprint.

The oracle side is `fixtures.sha256_fingerprint` over
`fixtures.oracle_final_state`'s output. `spark_fingerprint` builds the same
digest from Spark built-ins only (no Python UDF): one line
"repo|path|commit|lang|sha256(content)\\n" per row, NULLs as "", rows sorted,
sha256 over the concatenation.
"""

from __future__ import annotations

KEY_COLS = ("repo", "path", "commit", "lang")


def spark_fingerprint(df) -> dict:
    """(rows, fp) of a Spark final-state frame."""
    from pyspark.sql import functions as F

    def s(c):
        return F.coalesce(F.col(c).cast("string"), F.lit(""))

    # Sorting structs orders rows by (repo, path), the table's unique key.
    row = F.struct(*[s(c).alias(c) for c in KEY_COLS],
                   F.sha2(s("content"), 256).alias("h"))
    lines = F.transform(
        F.sort_array(F.collect_list(row)),
        lambda r: F.concat(F.concat_ws("|", *[r[c] for c in (*KEY_COLS, "h")]),
                           F.lit("\n")),
    )
    r = (
        df.agg(F.count("*").alias("rows"),
               F.sha2(F.array_join(lines, ""), 256).alias("fp"))
        .collect()[0]
    )
    return {"rows": int(r["rows"]), "fp": r["fp"]}


def compare(got: dict, want: dict) -> str | None:
    """None when the table matches the oracle, else a one-line reason."""
    if got["rows"] != want["rows"]:
        return f"row count {got['rows']} != oracle {want['rows']}"
    if got["fp"] != want["fp"]:
        return f"fingerprint {got['fp'][:12]} != oracle {want['fp'][:12]}"
    return None
