"""Salted equi-join — the manual skew-defeat for joins AQE can't fix.

AQE's skew-join split (enabled in session.py) handles skewed SHUFFLE
partitions, but only for sort-merge joins and only after statistics
materialize. When one hot key dominates (the classic null-key / celebrity
/ default-tenant skew at 100 TB), salting is the deterministic fix:

- fact side: derive a salt in [0, n) from a hash of the WHOLE row (never
  the join key alone — all of a hot key's rows share the key, so a
  key-derived salt re-lands them on one reducer and defeats the spread;
  any deterministic per-row spread works because correctness never
  depends on WHICH salt a row gets);
- dim side: replicate each row once per salt value (n× a SMALL side);
- join on (key, salt): the hot key's rows now spread across n partitions.

Identity: every fact row matches exactly the one dim replica carrying its
salt, so the salted join equals the plain join row-for-row — which is what
the oracle checks.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

SALT_COL = "_salt"


def _contains_map(dt) -> bool:
    """xxhash64 rejects MAP types at ANY nesting depth (a struct or array
    wrapping a map fails with AnalysisException at plan time, not just a
    top-level map); recurse through containers."""
    from pyspark.sql.types import ArrayType, MapType, StructType

    if isinstance(dt, MapType):
        return True
    if isinstance(dt, ArrayType):
        return _contains_map(dt.elementType)
    if isinstance(dt, StructType):
        return any(_contains_map(f.dataType) for f in dt.fields)
    return False


def salted_equi_join(
    fact: DataFrame,
    dim: DataFrame,
    fact_key: str,
    dim_key: str,
    *,
    n_salts: int = 8,
    how: str = "inner",
    salt_cols: list[str] | None = None,
) -> DataFrame:
    """fact ⋈ dim on fact_key = dim_key, salted n_salts ways.

    The dim side is replicated n_salts× — keep it the small side. Returns
    the join WITHOUT the salt column; column set = fact ∪ dim columns.

    ``salt_cols`` picks which fact columns feed the salt hash; default =
    every HASHABLE fact column (xxhash64 rejects MAP types, which are
    skipped automatically — and on very wide rows passing 2-3 varied
    columns avoids a full-row hash per row). The only correctness
    requirement is that the chosen columns VARY within the hot key;
    passing only the join key defeats the spread (rejected).

    Only inner/left joins are supported: in a right/full outer join an
    unmatched dim row would surface once PER REPLICA (n_salts duplicates),
    breaking the plain-join identity — reject rather than silently
    corrupt."""
    if how not in ("inner", "left", "left_outer", "leftouter"):
        raise ValueError(
            f"salted_equi_join supports inner/left joins only, got {how!r}: "
            "unmatched dim rows would duplicate once per salt replica"
        )
    # salt from row content, NOT the join key: xxhash64(key) is constant
    # within a key, which would send the hot key's rows to one reducer
    # again (tests/test_skew_stress.py pins the spread). Identical
    # duplicate rows still share a salt — deterministic under task retry,
    # and a 100%-duplicate hot key is a dedup problem, not a join problem.
    if salt_cols is None:
        salt_cols = [
            f.name for f in fact.schema.fields if not _contains_map(f.dataType)
        ]
        if not salt_cols:
            raise ValueError("salted_equi_join: no hashable fact columns to salt on")
    else:
        # normalize before the key-only check: duplicates and literal
        # repeats ([key, key]) must not disguise a key-only salt
        seen: set[str] = set()
        salt_cols = [c for c in salt_cols if not (c in seen or seen.add(c))]
        if salt_cols == [fact_key]:
            raise ValueError(
                "salted_equi_join: salting on the join key alone is constant "
                "within a hot key — no spread; include columns that vary"
            )
    salted_fact = fact.withColumn(
        SALT_COL,
        F.pmod(F.xxhash64(*[F.col(c) for c in salt_cols]), F.lit(n_salts)).cast(
            "int"
        ),
    )
    salted_dim = dim.withColumn(
        SALT_COL, F.explode(F.sequence(F.lit(0), F.lit(n_salts - 1)))
    )
    on = (F.col(f"f.{fact_key}") == F.col(f"d.{dim_key}")) & (
        F.col(f"f.{SALT_COL}") == F.col(f"d.{SALT_COL}")
    )
    joined = salted_fact.alias("f").join(salted_dim.alias("d"), on, how)
    keep = [F.col(f"f.{c}") for c in fact.columns] + [F.col(f"d.{c}") for c in dim.columns]
    return joined.select(*keep)
