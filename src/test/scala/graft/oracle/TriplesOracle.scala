package graft.oracle

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The triple stage as two window passes over one conv_id-partitioned sort —
  * an independent formulation of [[graft.pipeline.Triples.extract]]'s turn
  * walk, kept as the reference the walk is tested against. For every
  * property mention,
  *
  *   subj = nearest entity mention BEFORE it (same turn or any earlier turn),
  *   obj  = nearest entity mention AFTER it within the SAME turn,
  *
  * both as ignore-null window lookups.
  */
object TriplesOracle {

  /** @param mentions (conv_id, turn_idx, span_start, span_end, id, is_prop, score)
    * @return (subj, pred, obj, conv_id, turn_idx, score)
    */
  def windowed(mentions: DataFrame): DataFrame = {
    // both lookups use GROWING frames (unboundedPreceding → -1), which Spark
    // evaluates incrementally in O(n) per partition; the "nearest entity
    // after" is the same growing frame over the REVERSED sort order — a
    // shrinking (1 → unboundedFollowing) frame would re-scan per row.
    val wAsc = Window.partitionBy(col("conv_id"))
      .orderBy(col("turn_idx").asc, col("span_start").asc, col("span_end").asc,
        col("id").asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val wDesc = Window.partitionBy(col("conv_id"))
      .orderBy(col("turn_idx").desc, col("span_start").desc, col("span_end").desc,
        col("id").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val entId = when(!col("is_prop"), col("id"))
    val entScore = when(!col("is_prop"), col("score"))
    val withCtx = mentions
      .withColumn("subj", last(entId, ignoreNulls = true).over(wAsc))
      .withColumn("subj_score", last(entScore, ignoreNulls = true).over(wAsc))
      // nearest entity after, then constrain to same turn
      .withColumn("obj_cand",
        last(when(!col("is_prop"), struct(col("turn_idx").as("t"), col("id").as("i"),
          col("score").as("s"))), ignoreNulls = true)
          .over(wDesc))
    withCtx
      .filter(col("is_prop") && col("subj").isNotNull &&
        col("obj_cand").isNotNull && col("obj_cand.t") === col("turn_idx"))
      .select(
        col("subj"),
        col("id").as("pred"),
        col("obj_cand.i").as("obj"),
        col("conv_id"),
        col("turn_idx"),
        ((col("subj_score") + col("obj_cand.s")) / 2.0 + col("score")).as("score"))
  }
}
