"""Expected answers from DuckDB, and the content digest both sides share.

Every engine output the benchmark checks is reduced to a digest of its
rows in a canonical order (`digest`), and compared with the digest of
the same relation computed here by DuckDB straight from the input
parquet. A digest compares content exactly: row count, every key and
every value, NULLs included.
"""

from __future__ import annotations

import hashlib

import duckdb
import pyarrow as pa
import pyarrow.compute as pc

TIER_COLS = ("source", "bucket_s", "cnt", "sum_n_tok", "min_n_tok", "max_n_tok")
TIER_TABLE_COLS = TIER_COLS + ("src_n_docs", "src_total_tok")
FILLED_COLS = TIER_COLS + ("filled", "sum_n_tok_locf")
META_COLS = ("source", "n_docs", "total_tok", "first_event_s", "last_event_s")
DOC_COLS = ("doc_id", "event_s", "n_tok", "tokens")
DECODE_SUM_COLS = ("source", "n_docs", "sum_n_tok", "tok_checksum", "sum_event_s")

_NULL = -(1 << 62)


def digest(table: pa.Table, cols: tuple[str, ...], keys: tuple[str, ...]) -> str:
    """SHA-256 of ``cols`` with rows sorted by ``keys``; integer and
    boolean columns are compared as int64, so the engines' choice of
    int32/int64/int128 does not matter."""
    t = table.select(list(cols)).sort_by([(k, "ascending") for k in keys])
    h = hashlib.sha256(str(t.num_rows).encode())
    for name in cols:
        col = t.column(name).combine_chunks()
        if pa.types.is_string(col.type) or pa.types.is_large_string(col.type):
            h.update("\0".join(col.to_pylist()).encode())
        elif pa.types.is_list(col.type) or pa.types.is_large_list(col.type):
            h.update(pc.list_value_length(col).to_numpy(zero_copy_only=False).tobytes())
            h.update(_ints(pc.list_flatten(col)).tobytes())
        else:
            h.update(_ints(col).tobytes())
    return h.hexdigest()


def _ints(col: pa.Array):
    return pc.fill_null(col.cast(pa.int64()), _NULL).to_numpy(zero_copy_only=False)


class Oracle:
    """DuckDB over the generated input; ``base`` marks the rows of the
    files committed before the pending ones arrive."""

    def __init__(self, files: list[str], base_files: list[str]):
        self.con = duckdb.connect()
        self.con.execute(
            "CREATE TABLE seq AS SELECT *, filename IN "
            f"({', '.join(_lit(f) for f in base_files)}) AS base "
            f"FROM read_parquet([{', '.join(_lit(f) for f in files)}], filename = true)"
        )

    def _arrow(self, sql: str) -> pa.Table:
        return self.con.execute(sql).arrow()

    @staticmethod
    def _where(base, sources=None, t_min=None, t_max=None) -> str:
        cond = ["base"] if base else ["TRUE"]
        if sources is not None:
            cond.append(f"source IN ({', '.join(_lit(s) for s in sources)})")
        if t_min is not None:
            cond.append(f"event_s >= {int(t_min)}")
        if t_max is not None:
            cond.append(f"event_s < {int(t_max)}")
        return " AND ".join(cond)

    def _tier_sql(self, width: int, where: str) -> str:
        return f"""
          SELECT source, event_s // {width} * {width} AS bucket_s,
                 count(*) AS cnt, CAST(sum(n_tok) AS BIGINT) AS sum_n_tok,
                 min(n_tok) AS min_n_tok, max(n_tok) AS max_n_tok
          FROM seq WHERE {where} GROUP BY 1, 2"""

    def rollup(self, width, base, sources=None, t_min=None, t_max=None) -> pa.Table:
        """The answer `sql.read_rollup` must give."""
        return self._arrow(
            self._tier_sql(width, self._where(base, sources, t_min, t_max))
        )

    def tier_table(self, width: int, base: bool) -> pa.Table:
        """A pipeline tier table: the rollup plus per-source metadata."""
        w = self._where(base)
        return self._arrow(f"""
          SELECT t.*, m.n_docs AS src_n_docs, m.total_tok AS src_total_tok
          FROM ({self._tier_sql(width, w)}) t
          JOIN ({self._meta_sql(w)}) m USING (source)""")

    def filled_table(self, width: int, base: bool) -> pa.Table:
        """Gap-filled tier: a dense per-source bucket spine between the
        source's first and last bucket, cnt 0 and ``filled`` on empty
        buckets, and ``sum_n_tok`` carried forward."""
        return self._arrow(f"""
          WITH t AS ({self._tier_sql(width, self._where(base))}),
          r AS (SELECT source, min(bucket_s) AS lo, max(bucket_s) AS hi
                FROM t GROUP BY source),
          spine AS (SELECT source, unnest(range(lo, hi + {width}, {width}))
                           AS bucket_s FROM r),
          j AS (SELECT s.source, s.bucket_s, coalesce(t.cnt, 0) AS cnt,
                       t.sum_n_tok, t.min_n_tok, t.max_n_tok,
                       t.cnt IS NULL AS filled
                FROM spine s LEFT JOIN t USING (source, bucket_s))
          SELECT *, last_value(sum_n_tok IGNORE NULLS) OVER (
                      PARTITION BY source ORDER BY bucket_s ROWS BETWEEN
                      UNBOUNDED PRECEDING AND CURRENT ROW) AS sum_n_tok_locf
          FROM j""")

    @staticmethod
    def _meta_sql(where: str) -> str:
        return f"""
          SELECT source, count(*) AS n_docs, CAST(sum(n_tok) AS BIGINT) AS total_tok,
                 min(event_s) AS first_event_s, max(event_s) AS last_event_s
          FROM seq WHERE {where} GROUP BY source"""

    def meta(self, base: bool) -> pa.Table:
        return self._arrow(self._meta_sql(self._where(base)))

    def decode_sums(self, base: bool) -> pa.Table:
        """Per-source sums a decode of `series_enc` must reproduce;
        ``tok_checksum`` weighs each token by its 1-based position."""
        return self._arrow(f"""
          SELECT source, count(*) AS n_docs, CAST(sum(n_tok) AS BIGINT) AS sum_n_tok,
                 CAST(sum(list_sum(list_transform(tokens, (x, i) -> x::BIGINT * i)))
                      AS BIGINT) AS tok_checksum,
                 CAST(sum(event_s) AS BIGINT) AS sum_event_s
          FROM seq WHERE {self._where(base)} GROUP BY source""")

    def docs(self, source: str, base: bool) -> pa.Table:
        """One source's sequences — what a rehydration must return."""
        return self._arrow(
            f"SELECT doc_id, event_s, n_tok, tokens FROM seq "
            f"WHERE {self._where(base, [source])}"
        )

    def close(self) -> None:
        self.con.close()


def _lit(s: str) -> str:
    return "'" + s.replace("'", "''") + "'"
