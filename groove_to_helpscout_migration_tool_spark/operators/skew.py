"""Skew mitigation for shuffle joins (100 TB design note made concrete).

A shuffled equi-join collapses every row of a hot key onto one task; at
scale one HOT key (the reference analog: one mailbox owning most
tickets) stalls the stage. Mitigations, in preference order:

  1. broadcast the small side (operators/joins.py does this for dims);
  2. AQE skew-join splitting (on by default in session.py) for
     sort-merge joins;
  3. SALTING -- when the big side is too big to broadcast against and
     the skew is too extreme for AQE's split granularity: append a salt
     in [0, n) to the fact side, replicate the other side n times, join
     on (key, salt). The hot key now spreads over n tasks; the cost is
     n-fold replication of the non-fact side, so when the hot set is
     known, salt only the hot slice and join the long tail unsalted.

The salt here is DETERMINISTIC (pmod of a caller-chosen column), never
rand(): results must be reproducible and oracle-checkable; randomness
adds nothing once the salt spreads uniformly.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def salted_join(
    facts: DataFrame,
    other: DataFrame,
    key: str,
    salt_src: Column,
    n_salts: int = 8,
    how: str = "inner",
) -> DataFrame:
    """Equi-join on ``key`` with an n-way salt: ``facts`` rows get
    salt = pmod(salt_src, n_salts); ``other`` is replicated once per
    salt value (an n-fold blowup -- keep ``other`` the smaller side).
    Returns the same rows as facts.join(other, key, how)."""
    salts = F.explode(F.sequence(F.lit(0), F.lit(n_salts - 1))).alias("_salt")
    facts_s = facts.withColumn("_salt", F.pmod(salt_src, F.lit(n_salts)).cast("int"))
    other_s = other.select("*", salts)
    return facts_s.join(other_s, [key, "_salt"], how).drop("_salt")
