"""Expected final state and the table comparison every workload ends with.

The fold is a plain last-write-wins reduction written in Spark SQL over the
workload's own change events. It uses no ``sparkcdc.apply`` or
``sparkcdc.lake`` code, so a fault in the engine's reduce or merge cannot
hide in the check.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: event columns that are not row values
EVENT_META = ("offset", "op")


def expected_state(
    events: DataFrame,
    key_cols: list[str],
    final_fields: list[tuple[str, str]],
    aliases: dict[str, list[str]] | None = None,
) -> DataFrame:
    """Fold change events into the table a correct sink must hold.

    ``events`` has the key columns, ``offset`` (unique per key), ``op``
    (``r``/``c``/``u`` upsert, ``d`` delete) and one column per value name
    an event carried, NULL where the event's schema epoch lacked it.
    ``final_fields`` is the final schema as ``(name, spark type)``;
    ``aliases`` maps a final name to the earlier names of the same column,
    so a value written before a rename reads under its new name. A column
    added later is NULL for rows last written before the add.
    """
    aliases = aliases or {}
    value_cols = [c for c in events.columns
                  if c not in key_cols and c not in EVENT_META]
    last = events.groupBy(*key_cols).agg(
        F.max_by(F.struct("op", *value_cols), F.col("offset")).alias("w")
    )
    out = [F.col(k) for k in key_cols]
    for name, typ in final_fields:
        names = [n for n in (name, *aliases.get(name, [])) if n in value_cols]
        value = (F.coalesce(*[F.col(f"w.{n}") for n in names])
                 if names else F.lit(None))
        out.append(value.cast(typ).alias(name))
    return last.filter(F.col("w.op") != "d").select(*out)


def compare(expected: DataFrame, actual: DataFrame,
            key_cols: list[str]) -> dict:
    """Row-for-row comparison by key. Returns counts of ``missing`` keys
    (expected, not in the table), ``extra`` keys (in the table, not
    expected; a resurrected delete lands here), ``differ`` rows (same key,
    another value), ``dup_keys`` (keys held more than once) and ``rows``
    (live rows in the table), plus up to five ``examples``."""
    cols = [c for c in expected.columns if c not in key_cols]
    actual = actual.persist()
    try:
        return _compare(expected, actual, key_cols, cols)
    finally:
        actual.unpersist()


def _compare(expected, actual, key_cols, cols) -> dict:
    e = expected.select(*key_cols, *[F.col(c).alias(f"e_{c}") for c in cols],
                        F.lit(True).alias("e_present"))
    a = actual.select(*key_cols, *[F.col(c).alias(f"a_{c}") for c in cols],
                      F.lit(True).alias("a_present"))
    j = e.join(a, key_cols, "full_outer")
    same = F.lit(True)
    for c in cols:
        same = same & F.col(f"e_{c}").eqNullSafe(F.col(f"a_{c}"))
    missing = F.col("a_present").isNull()
    extra = F.col("e_present").isNull()
    differ = ~missing & ~extra & ~same
    agg = j.agg(
        F.sum(missing.cast("long")).alias("missing"),
        F.sum(extra.cast("long")).alias("extra"),
        F.sum(differ.cast("long")).alias("differ"),
    ).first()
    held = actual.groupBy(*key_cols).count().agg(
        F.sum("count").alias("rows"),
        F.sum((F.col("count") > 1).cast("long")).alias("dup_keys"),
    ).first()
    out = {k: int(agg[k] or 0) for k in ("missing", "extra", "differ")}
    out["dup_keys"] = int(held["dup_keys"] or 0)
    out["rows"] = int(held["rows"] or 0)
    out["examples"] = []
    if out["missing"] or out["extra"] or out["differ"]:
        out["examples"] = [
            r.asDict() for r in j.filter(missing | extra | differ).limit(5)
            .collect()
        ]
    return out


def clean(result: dict) -> bool:
    return not (result["missing"] or result["extra"] or result["differ"]
                or result["dup_keys"])
