"""Per-record normalization, vectorized (SURVEY.md §2.8 F5/F7, P10).

Reference semantics being preserved:
* ``str_or_none`` — strip, empty→null
  (/root/reference/investigraph/util.py:72-76)
* NaN→None at extract (/root/reference/investigraph/logic/extract.py:25)
* value cleaning happens *on ingest*, before merge
  (/root/reference/investigraph/util.py:41-43)

Native Spark SQL expressions only (JVM-side, whole-stage codegen —
strictly faster than any Python crossing); none of these
normalizations needs Python.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def clean_str(col: Column) -> Column:
    """strip all leading/trailing whitespace + lower, ''→null —
    ``str_or_none`` + casefold (Spark's ``trim`` only strips U+0020,
    so use a regexp to match Python ``str.strip`` semantics)."""
    stripped = F.regexp_replace(col, r"^\s+|\s+$", "")
    return F.nullif(F.lower(stripped), F.lit(""))


def normalize_events(events: DataFrame) -> DataFrame:
    """Normalize a change-event DataFrame in place:

    * ``source`` cleaned (trim/lower/null-if-empty)
    * ``n_tok`` recomputed as ``size(tokens)`` — the producer's value is
      untrusted (the generator deliberately corrupts some)
    * delete events keep null payload

    Narrow (no shuffle); stays inside whole-stage codegen.
    """
    ntok = F.when(F.col("tokens").isNotNull(), F.size(F.col("tokens"))).cast("int")
    return events.withColumns({"source": clean_str(F.col("source")), "n_tok": ntok})
