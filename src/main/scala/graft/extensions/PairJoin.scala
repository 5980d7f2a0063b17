package graft.extensions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The one all-pairs operator of the vector-similarity family
  * (dedup_embed, dedup_docvec, dedup_semantic, sem_recall, knn_graph,
  * knn_recall's truth leg).
  *
  * An all-pairs predicate such as `a.id < b.id` plans as a
  * BroadcastNestedLoopJoin over one input partition: one task scores
  * every pair (8.5 s at sf0.1 for dedup_embed in round 1). The block
  * join keeps the O(N²) work but fixes its SHAPE: the left side is
  * replicated across [[BLOCKS]] block keys, the right side is keyed by
  * `pmod(id, BLOCKS)`, and the two meet in an equi-join on the block
  * key — every pair lands in exactly one (row, block) task, the work
  * spreads evenly over the shuffle partitions, and no single task runs
  * a nested loop. With a cell column (`within`) the join key is
  * (cell, block): only pairs inside one cell meet, and a hot cell still
  * fans out over BLOCKS tasks instead of one straggler. Without one the
  * replicated side is repartitioned on (block, id) first, so the
  * replication itself is spread even when the input is one file split.
  *
  * The operator only pairs rows; each caller keeps its own scoring and
  * keep step (the 6dp cosine [[cosine6]], dedup_docvec's integer
  * predicate, the graft_topk heaps).
  */
object PairJoin {

  /** Block keys of [[blockPairs]]. */
  private[graft] val BLOCKS = 16

  /** Every pair of rows of `e` as one block equi-join. Each column `c`
    * of `e` appears as `c_a` (left row) and `c_b` (right row), except
    * the `within` column, which is the shared join key. Undirected
    * (default): each unordered pair once, `id_a < id_b`. Directed:
    * both orientations, every `id_a ≠ id_b`. A row is never paired
    * with itself, and a row whose `within` cell is NULL pairs with
    * nothing. */
  private[graft] def blockPairs(e: DataFrame, id: String, within: Option[String] = None,
                                directed: Boolean = false): DataFrame = {
    val payload = e.columns.toSeq.filterNot(within.contains)
    def side(sfx: String): Seq[Column] =
      within.map(col).toSeq ++ payload.map(c => col(c).as(s"${c}_$sfx"))
    val replicated = e.select(side("a") :+ explode(expr(s"sequence(0, ${BLOCKS - 1})")).as("blk"): _*)
    val left =
      if (within.isEmpty) replicated.repartition(col("blk"), col(s"${id}_a")) else replicated
    val right = e.select(side("b") :+ pmod(col(id), lit(BLOCKS)).cast("int").as("blk"): _*)
    val (a, b) = (col(s"${id}_a"), col(s"${id}_b"))
    left.join(right, within.toSeq :+ "blk")
      .filter(if (directed) a =!= b else a < b)
      .drop("blk")
  }

  /** The family's 6dp-rounded pair cosine over [[blockPairs]] columns
    * `v_a`, `v_b`, `norm_a`, `norm_b` (the [[SimilarityQueries.prep]]
    * frame): the value every pair threshold and rank is taken on. */
  private[graft] def cosine6: Column =
    round(call_function("graft_dot", col("v_a"), col("v_b")) / (col("norm_a") * col("norm_b")), 6)
}
