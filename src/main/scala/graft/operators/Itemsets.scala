package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Pairwise association-rule mining (the level-2 Apriori slice that
  * covers the classic "customers who bought X also bought Y" report):
  * support-thresholded co-occurrence counts promoted to directed rules
  * with confidence and lift. The reference's DBMS could at most run the
  * O(n²) self-join via querySql (reference
  * database/dbms/reader/parameter.go:94-101).
  *
  * All outputs are exact integers — counts plus confidence/lift in
  * floor-divided thousandths computed through decimal(38) products, so
  * the numbers are engine-exact at any scale (no double division, no
  * overflow below 10^38 — a 10^9-basket corpus squared still fits).
  *
  * Scale shape: one distinct pass (map-side partial), one item-count
  * aggregate, the basket self-join shuffles on basket id ONCE with the
  * `minSupport` filter applied to the pair aggregate BEFORE the
  * per-item-count joins (support pruning is exactly what makes Apriori
  * tractable), and a 1-row global basket count broadcast by crossJoin.
  * The final top-k is TakeOrderedAndProject — never a global sort.
  */
object Itemsets {

  /** Directed pair rules `antecedent -> consequent` over baskets.
    *
    * `n_both` = baskets containing both items (co-occurrence support),
    * `n_ante` / `n_cons` = baskets containing each item,
    * `conf_x1000` = n_both*1000 div n_ante,
    * `lift_x1000` = n_both*N*1000 div (n_ante*n_cons).
    * Rules below `minSupport` co-occurrences are pruned before any
    * per-item join; output is the `topK` rules by (lift desc, conf
    * desc, antecedent, consequent) — a deterministic total order. */
  def pairRules(baskets: DataFrame, basketCol: String, itemCol: String,
                minSupport: Long, topK: Int): DataFrame = {
    require(minSupport >= 1, s"minSupport=$minSupport must be >= 1")
    require(topK >= 1, s"topK=$topK must be >= 1")
    // a plain distinct (partial aggregate, then its own exchange): the
    // r11 form repartitioned the raw rows on the basket key first so one
    // exchange served the dedup, the total and both join sides, and the
    // driver bench measured it 0.74x of this form at 32 and 8 cores
    val b = baskets.select(col(basketCol).cast("long").as("__bk"),
        col(itemCol).cast("long").as("__it"))
      .where(col("__bk").isNotNull && col("__it").isNotNull)
      .distinct()
    val itemCnt = b.groupBy(col("__it")).agg(count(lit(1)).as("__n"))
    val total = b.select(countDistinct(col("__bk")).as("n_total"))
    val l = b.select(col("__bk"), col("__it").as("a"))
    val r = b.select(col("__bk").as("__bk2"), col("__it").as("c"))
    val pairs = l.join(r, col("__bk") === col("__bk2") && col("a") =!= col("c"))
      .groupBy(col("a"), col("c")).agg(count(lit(1)).as("n_both"))
      .filter(col("n_both") >= minSupport)
    pairs
      .join(itemCnt.select(col("__it").as("a"), col("__n").as("n_ante")), "a")
      .join(itemCnt.select(col("__it").as("c"), col("__n").as("n_cons")), "c")
      .crossJoin(broadcast(total))
      .select(col("a").as("antecedent"), col("c").as("consequent"),
        col("n_both"), col("n_ante"), col("n_cons"), col("n_total"),
        expr("n_both * 1000 DIV n_ante").as("conf_x1000"),
        expr("""CAST(n_both AS DECIMAL(38,0)) * n_total * 1000
                DIV (CAST(n_ante AS DECIMAL(38,0)) * n_cons)""")
          .as("lift_x1000"))
      .orderBy(col("lift_x1000").desc, col("conf_x1000").desc,
        col("antecedent"), col("consequent"))
      .limit(topK)
  }
}
