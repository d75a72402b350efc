"""PII + toxicity scrub stage — two interchangeable implementations.

Graft slot: the deterministic output-formatting contract of the reference's
sinks (sigfig formatting ispaq/utils.py:364-370 — the 'output bytes are part
of the spec' discipline), applied here to text: the scrubbed output must be
byte-identical to the reference chain (contract.SCRUB_RULES, in order).

Fast path: chained JVM ``regexp_replace`` — whole-stage codegen, no Python.
Fallback: pandas UDF running the *same* compiled-regex chain as
reference_impl.scrub_text. tests/test_scrub.py proves the two paths and the
reference agree byte-for-byte on the fixture corpus; the pipeline defaults
to the JVM path.
"""

from __future__ import annotations

from itertools import groupby

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.types import StringType

from ..contract import SCRUB_RULES
from ..reference_impl import scrub_text


# Character every match of a rule needs. A rule whose character is absent
# from the INPUT text is skipped: no replacement adds '@' or a digit, so the
# input test equals a test of the rule's own (partly scrubbed) input.
_NEEDS = {"email": "@", "ssn": "[0-9]", "phone": "[0-9]", "ip": "[0-9]"}


def scrub_sql(text: Column) -> Column:
    """JVM regexp_replace chain (order = contract order); each run of rules
    sharing a _NEEDS guard sits behind one cheap RLIKE on the input."""
    out = text
    for need, rules in groupby(SCRUB_RULES, key=lambda r: _NEEDS.get(r[0])):
        chained = out
        for _name, pat, repl in rules:
            chained = F.regexp_replace(chained, pat, repl)
        if need is not None:
            chained = F.when(text.rlike(need), chained).otherwise(out)
        out = chained
    return out


@F.pandas_udf(StringType())
def scrub_pandas_udf(text: pd.Series) -> pd.Series:
    return text.map(lambda t: scrub_text(t) if t is not None else None)


def scrubbed_col(text_col: str, impl: str = "sql") -> Column:
    if impl == "sql":
        return scrub_sql(F.col(text_col))
    if impl == "pandas":
        return scrub_pandas_udf(F.col(text_col))
    raise ValueError(f"unknown scrub impl: {impl!r} (want 'sql' or 'pandas')")
