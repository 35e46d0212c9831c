"""Skew handling: hub detection + hub-split joins.

Link graphs from source code are power-law: a handful of hub files (stdlib
headers) carry a large share of edges. The reference absorbs skew with
sub-vertex work stealing (/root/reference/core/Peregrine.hh:94-102); Spark
tasks are partition-granular, so we defuse skew structurally instead
(Hurricane's point: split the hot work, don't re-randomize all of it):

- groupBy aggregations (sum/min/count) already two-phase map-side — a hub
  dst reduces to one row per map partition before the shuffle. Nothing to
  split there.
- JOIN skew is the real risk: a join on a hub key puts all of the hub's
  rows in one task. AQE's skew-join splitting handles unhinted joins at
  runtime; where it can't (hinted SHUFFLE_HASH joins, cached sides) the
  fix is structural: the few hub keys, found by hub_keys, join against a
  BROADCAST slice of the small side while everything else takes the
  shuffle join. hub_split_join is that join for the adjacency attaches
  of graphs too large to broadcast their runs
  (graph.GraphContext.attach_adj); the superstep gather
  (iterative._split_gather) pre-splits its cached edge side by the same
  hub_keys instead.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def hub_keys(
    counts: DataFrame,
    key: str,
    col: str,
    threshold: int,
    max_count: int | None = None,
) -> list[int]:
    """Driver-side list of the keys of a count table (key, col) whose
    count exceeds threshold — the keys that would single-handedly fill a
    shuffle partition. Power-law graphs have only a handful. max_count, if
    given, is a known upper bound on the counts (a max degree from earlier
    statistics): when it is within the threshold no key can pass, and the
    collect job is skipped.

    At most 2,048 keys, hottest first. The cap bounds PLAN size, not
    correctness: hub_split_join embeds the list as `isin(...)` literals,
    so each hub key appears twice in the expression tree (2,048 keys ≈
    tens of KB of plan — fine; 10⁶ would stall Catalyst analysis and blow
    the broadcast of the hub slice). Keys past the cap simply stay on the
    shuffle path — at worst a hot task, never a wrong result. Raise only
    alongside a plan-size check."""
    if max_count is not None and max_count <= threshold:
        return []
    rows = (
        counts.filter(F.col(col) > threshold)
        .orderBy(F.col(col).desc())
        .limit(2048)
        .collect()
    )
    return [r[key] for r in rows]


def auto_hub_threshold(n_rows: int, shuffle_partitions: int | None = None) -> int:
    """A key hotter than ~a quarter of a balanced partition is a hub.
    Defaults to the active session's spark.sql.shuffle.partitions."""
    if shuffle_partitions is None:
        from pyspark.sql import SparkSession

        sess = SparkSession.getActiveSession()
        shuffle_partitions = (
            int(sess.conf.get("spark.sql.shuffle.partitions")) if sess else 64
        )
    return max(65_536, n_rows // (4 * shuffle_partitions))


def hub_split_join(
    big: DataFrame, small: DataFrame, key: str, hubs: list[int], how: str = "inner"
) -> DataFrame:
    """Equi-join big ⨝ small on `key` ("inner" or "left", big on the
    left) where `small` is unique per key and `big` is power-law-skewed
    on it: rows whose key is a hub join against a BROADCAST slice of
    `small` (map-side — the hub's millions of rows never shuffle), the
    rest take the normal shuffle join. The union is exactly the plain
    join because the hub test (false for a null key) splits big's rows
    in two, and each half meets every small row of its keys.

    The shuffle join is hinted SHUFFLE_HASH (hash the unique-per-key
    `small`, sort neither side). Hinted joins are exempt from AQE's skew
    splitting — which is why the hubs are split off here."""
    if not hubs:
        return big.join(small.hint("shuffle_hash"), key, how)
    is_hub = F.coalesce(F.col(key).isin(hubs), F.lit(False))
    small_hub = small.filter(F.col(key).isin(hubs))
    j_hub = big.filter(is_hub).join(F.broadcast(small_hub), key, how)
    j_rest = big.filter(~is_hub).join(small.hint("shuffle_hash"), key, how)
    return j_rest.unionByName(j_hub)
