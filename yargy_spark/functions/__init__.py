"""Column-level expression helpers (the engine's `pyspark.sql.
functions` extension surface).

Everything here is a pure Column -> Column builder usable in any
DataFrame pipeline; the corpus operators compose these.  All hashing
bottoms out in portable md5-prefix integers so any SQL engine (the
DuckDB oracle gate included) can replay results hash-for-hash.
"""

from ..operators.dedup import (  # noqa: F401
    md5_int,
    _norm_text as norm_text,
)

from pyspark.sql import Column
from pyspark.sql import functions as F


def span_struct(start, stop) -> Column:
    """Half-open char interval as a struct column (Span, span.py:5-24)."""
    return F.struct(F.col(start).alias('start'), F.col(stop).alias('stop'))


def span_length(span: Column) -> Column:
    return span['stop'] - span['start']


def spans_overlap(a: Column, b: Column) -> Column:
    """Half-open interval intersection test."""
    return (a['start'] < b['stop']) & (b['start'] < a['stop'])


def lemma_key(*lemma_cols) -> Column:
    """Normalized-lemma blocking key ('иван|ульянов') from lemma
    columns — the entity-linking blocking key builder."""
    return F.concat_ws('|', *[F.lower(F.col(c)) for c in lemma_cols])


def salted(key: Column, salt_mod: int, salt_src: Column) -> Column:
    """Skew-salted key: key + '#' + (hash(salt_src) % salt_mod)."""
    return F.concat_ws(
        '#', key, F.pmod(F.xxhash64(salt_src), F.lit(salt_mod))
        .cast('string'))
