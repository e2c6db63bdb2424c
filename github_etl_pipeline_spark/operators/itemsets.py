"""Frequent-itemset mining and association rules, DataFrame-native.

Market-basket analysis over (basket, item) incidence relations:
Apriori-pruned frequent pairs with association-rule metrics
(support / confidence / lift). The extension-surface analytics family the
relational block lacks — co-occurrence mining is the standard "what ships
together" warehouse question, and the same machinery mines token/tag
co-occurrence in training corpora (documents x shingles, media x labels).

Why not ``pyspark.ml.fpm.FPGrowth``: MLlib's FP-Growth collects
conditional FP-trees per partition suffix and its results are arrays in
a model object — not a relational plan, not oracle-checkable, and the
tree build is RDD-based. Pair mining expressed AS A JOIN stays inside
Catalyst/AQE (runtime-sized exchanges, skew splitting), yields exact
counts, and covers the overwhelmingly common k<=2 case; the docstring of
:func:`frequent_pairs` gives the SON-style extension path for k>2.

Scale shape (100 TB):
  * The incidence relation is corpus-scale but 2 columns; distinct() is
    ONE shuffle on (basket, item) — map-side partial dedup applies.
  * Apriori bound makes the prune broadcastable BY CONSTRUCTION: at
    relative support theta, an item needs theta*n baskets, and total
    incidences are avg_basket*n, so at most avg_basket/theta items are
    frequent (e.g. 10-item baskets at 1% support -> <= 1000 survivors)
    regardless of corpus size. The frequent-singleton list is therefore
    always a small broadcast, and the pair self-join runs over the
    PRUNED incidence relation only.
  * The pair self-join shuffles once on basket; a basket with m frequent
    items emits C(m,2) rows, so a pathological mega-basket is the skew
    risk — ``max_basket_items`` drops baskets above a bound (the
    standard practice of capping promiscuous baskets, which carry no
    signal).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def frequent_pairs(
    df: DataFrame,
    basket_col: str,
    item_col: str,
    min_support: float,
    max_basket_items: int | None = None,
) -> DataFrame:
    """Apriori-pruned frequent pair mining with association-rule metrics.

    Returns one row per unordered frequent pair (item_a < item_b):
    (item_a, item_b, pair_cnt, support, conf_a_b, conf_b_a, lift),
    support/confidence/lift as 6dp doubles from exact BIGINT operands
    (engine-identical: fixed IEEE expression tree, half-up round).

      support  = pair_cnt / n_baskets
      conf_a_b = P(b | a) = pair_cnt / item_cnt_a   (and symmetrically)
      lift     = conf_a_b / (item_cnt_b / n_baskets)  -- >1 means the
                 pair co-occurs more than independence predicts

    Plan (r13 rework): ONE basket shuffle total on the corpus —
    groupBy(basket) with collect_set dedups the incidence INSIDE the
    aggregate (the previous distinct + pair self-join shape paid a
    (basket, item) distinct exchange, then re-exchanged both self-join
    sides by basket; 18.3s -> 9.6s at the x30 tier, outputs identical).
    The frequent-singleton relation derives from the exploded sets
    (post-dedup rows), the prune is an array_intersect against the
    1-row collected frequent-item array (Apriori bounds it at
    avg_basket/theta items — always broadcastable, and a 1-row
    crossJoin keeps the job a single lazy plan with no driver action),
    and C(m,2) pairs emit map-side from each pruned sorted array ->
    groupBy(pair) -> support filter -> two broadcast metric joins.
    Monotonicity (support(pair) <= support(item)) makes the prune
    EXACT, not a heuristic. For k>2 itemsets, iterate: join frequent
    k-itemsets with frequent singletons per basket and re-filter
    (SON/Apriori) — each level is the same bounded-broadcast +
    one-shuffle shape.
    """
    # sets feeds the basket count, the singleton counts, and the pair
    # stage; freq feeds the prune array and both metric joins. Persist
    # both, or each reference re-derives the corpus lineage at runtime.
    sets = (
        df.select(F.col(basket_col).alias("basket"), F.col(item_col).alias("item"))
        .groupBy("basket")
        .agg(F.sort_array(F.collect_set("item")).alias("its"))
    )
    if max_basket_items is not None:
        sets = sets.filter(F.size("its") <= max_basket_items)
    sets = sets.persist()
    nb = sets.agg(F.count(F.lit(1)).alias("n_baskets"))
    minc = F.ceil(F.lit(min_support) * F.col("n_baskets").cast("double"))
    freq = (
        sets.select(F.explode("its").alias("item"))
        .crossJoin(F.broadcast(nb))
        .groupBy("item", "n_baskets")
        .agg(F.count(F.lit(1)).alias("item_cnt"))
        .filter(F.col("item_cnt") >= minc)
        .persist()  # small by Apriori bound
    )
    freq_arr = freq.agg(F.sort_array(F.collect_list("item")).alias("_fa"))
    pruned = sets.crossJoin(F.broadcast(freq_arr)).select(
        "basket", F.array_intersect("its", "_fa").alias("its")
    )
    pairs = (
        pruned.select(
            F.explode(
                F.flatten(
                    F.transform(
                        "its",
                        lambda a, i: F.transform(
                            F.slice("its", i + 2, F.size("its")),
                            lambda b: F.struct(a.alias("a"), b.alias("b")),
                        ),
                    )
                )
            ).alias("p")
        )
        .groupBy(F.col("p.a").alias("item_a"), F.col("p.b").alias("item_b"))
        .agg(F.count(F.lit(1)).alias("pair_cnt"))
    )
    ca = freq.select(
        F.col("item").alias("item_a"),
        F.col("item_cnt").alias("cnt_a"),
        "n_baskets",
    )
    cb = freq.select(F.col("item").alias("item_b"), F.col("item_cnt").alias("cnt_b"))
    out = pairs.join(F.broadcast(ca), "item_a").join(F.broadcast(cb), "item_b")
    n = F.col("n_baskets").cast("double")
    pc = F.col("pair_cnt").cast("double")
    minc = F.ceil(F.lit(min_support) * n)
    return (
        out.filter(F.col("pair_cnt") >= minc)
        .select(
            "item_a",
            "item_b",
            "pair_cnt",
            F.round(pc / n, 6).alias("support"),
            F.round(pc / F.col("cnt_a").cast("double"), 6).alias("conf_a_b"),
            F.round(pc / F.col("cnt_b").cast("double"), 6).alias("conf_b_a"),
            F.round(
                (pc / F.col("cnt_a").cast("double"))
                / (F.col("cnt_b").cast("double") / n),
                6,
            ).alias("lift"),
        )
    )
