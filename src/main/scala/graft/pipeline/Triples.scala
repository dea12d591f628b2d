package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Per-turn (subj, pred, obj) triple extraction over linked mentions
  * (SURVEY.md §2.9): each conversation is walked once in [[WalkOrder]] — the
  * stable turn ordering the north rule fixes — carrying its focus entity
  * across turns, and for every property mention,
  *
  *   subj = nearest entity mention BEFORE it (same turn or any earlier turn —
  *          the conversation-focus fallback),
  *   obj  = nearest entity mention AFTER it within the SAME turn.
  *
  * The walk groups on the conv_id column, so its one required distribution
  * is `ClusteredDistribution(conv_id)`: one hash exchange over unbucketed
  * mentions, none over a conv-bucketed mentions table.
  */
object Triples {

  /** The walk order within a conversation. The bucketed mentions stage sorts
    * by `conv_id +: WalkOrder`; [[walkOrdering]] is the same order on rows.
    */
  val WalkOrder: Seq[String] = Seq("turn_idx", "span_start", "span_end", "id")

  /** A mention row in the walker's wire shape:
    * (conv_id, turn_idx, span_start, span_end, id, is_prop, score).
    */
  type MentionRow = (String, Int, Int, Int, String, Boolean, Double)

  /** [[WalkOrder]] on [[MentionRow]]s: the batch walk and the streaming
    * reorder buffer both sort by it.
    */
  private[graft] val walkOrdering: Ordering[MentionRow] =
    Ordering.by((m: MentionRow) => (m._2, m._3, m._4, m._5))

  /** One conversation's turn walk — the per-group state machine [[extract]]
    * (batch) and `IncrementalKg.statefulTriplesStream` share. `ms` is in
    * [[walkOrdering]]. `seed` is the conversation-focus entity carried in
    * from EARLIER turns (an earlier micro-batch on the streaming path; None
    * in batch, where the group holds the whole conversation).
    *
    * @return (triples, final focus entity or null, its score)
    */
  private[graft] def walkTurns(
      conv: String,
      ms: Array[MentionRow],
      seed: Option[(String, Double)]):
      (Seq[(String, String, String, String, Int, Double)], String, Double) = {
    val out = scala.collection.mutable.ArrayBuffer
      .empty[(String, String, String, String, Int, Double)]
    var lastEnt: String = seed.map(_._1).orNull
    var lastScore = seed.map(_._2).getOrElse(0.0)
    var turnStart = 0
    while (turnStart < ms.length) {
      val turn = ms(turnStart)._2
      var turnEnd = turnStart
      while (turnEnd < ms.length && ms(turnEnd)._2 == turn) turnEnd += 1
      var i = turnStart
      while (i < turnEnd) {
        val m = ms(i)
        if (m._6) { // property mention
          if (lastEnt != null) {
            // nearest following entity in the SAME turn
            var j = i + 1
            while (j < turnEnd && ms(j)._6) j += 1
            if (j < turnEnd) {
              val o = ms(j)
              out += ((lastEnt, m._5, o._5, conv, turn,
                (lastScore + o._7) / 2.0 + m._7))
            }
          }
        } else { lastEnt = m._5; lastScore = m._7 }
        i += 1
      }
      turnStart = turnEnd
    }
    (out.toSeq, lastEnt, lastScore)
  }

  /** @param mentions (conv_id, turn_idx, span_start, span_end, id, is_prop, score)
    *                 — any input; over a conv-bucketed table
    *                 ([[graft.io.ManifestStore.runStageBucketed]]) the walk's
    *                 distribution is satisfied by the scan and the stage
    *                 plans with ZERO Exchange (plan-asserted in PlanSpec)
    * @return (subj, pred, obj, conv_id, turn_idx, score)
    */
  def extract(mentions: DataFrame): DataFrame = {
    val spark = mentions.sparkSession
    import spark.implicits._
    mentions
      .select(col("conv_id"), col("turn_idx").cast("int"),
        col("span_start").cast("int"), col("span_end").cast("int"),
        col("id"), col("is_prop"), col("score").cast("double"))
      .as[MentionRow]
      .groupBy(col("conv_id")).as[String, MentionRow]
      .flatMapGroups { (conv: String, it: Iterator[MentionRow]) =>
        walkTurns(conv, it.toArray.sorted(walkOrdering), None)._1.iterator
      }
      .toDF("subj", "pred", "obj", "conv_id", "turn_idx", "score")
  }
}
