package graft.perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

import graft.io.ManifestStore

/** The per-layer metrics of a traced pass, named `<layer>.<metric>` after
  * the pipeline's stage names and the toolkit's query names. A layer that a
  * workload does not run reads 0.
  */
object Layers {

  val Stages: Seq[String] = Seq("entity_index", "property_index", "dictionary",
    "mentions", "link_scores", "triples", "canonical_map", "triples_canonical",
    "nodes", "edges")

  val StageMetrics: Seq[(String, String)] = Seq("wall_s" -> "s", "rows_out" -> "count",
    "shuffle_write_mb" -> "MB", "fetch_wait_s" -> "s", "spill_mb" -> "MB",
    "task_skew" -> "ratio")

  val Extras: Seq[(String, String)] = Seq("mentions.per_turn" -> "ratio",
    "triples.per_mention" -> "ratio", "link_scores.max_degree" -> "count",
    "canonical_map.jobs" -> "count", "store.snapshot.wall_s" -> "s",
    "pass.self_s" -> "s")

  /** Toolkit queries whose shuffle write is also recorded. */
  val ShuffleQueries: Seq[String] = Seq("dedup_minhash_lsh", "dedup_minhash_capped",
    "semantic_dedup", "kg_entity_index", "curate_corpus", "ann_ivf_topk")

  /** Every per-layer metric with its unit, in output order. */
  val names: Seq[(String, String)] =
    Stages.flatMap(s => StageMetrics.map { case (m, u) => s"$s.$m" -> u }) ++ Extras ++
      Toolkit.all.map(q => s"q.$q.wall_s" -> "s") ++
      ShuffleQueries.map(q => s"q.$q.shuffle_write_mb" -> "MB")

  final case class Result(metrics: Seq[(String, Double, String)], overheadS: Double,
      untracedWallS: Double, tracedWallS: Double)

  private val MB = 1e6

  def compute(w: Workload, t: Tracer, spark: SparkSession, out: String,
      untracedWallS: Double, tracedWallS: Double): Result = {
    val store = new ManifestStore(spark, out)
    def spanOf(name: String): Option[Span] = t.all.reverse.find(_.name == name)
    def group(name: String): Option[GroupTotals] = spanOf(name).map(t.totals)
    def wall(name: String): Double = spanOf(name).map(_.durNs / 1e9).getOrElse(0.0)
    def rows(stage: String): Double =
      store.rowCountOf(stage).orElse(w.extraRows.get(stage)).getOrElse(0L).toDouble
    def ratio(a: Double, b: Double): Double = if (b > 0) a / b else 0.0
    val turns = w match {
      case k: KgWorkload => k.shape.turnRows.toDouble
      case _ => 0.0
    }

    val values = scala.collection.mutable.Map.empty[String, Double]
    Stages.foreach { s =>
      val g = group(s)
      values(s"$s.wall_s") = wall(s)
      values(s"$s.rows_out") = rows(s)
      values(s"$s.shuffle_write_mb") = g.map(_.shuffleWriteBytes / MB).getOrElse(0.0)
      values(s"$s.fetch_wait_s") = g.map(_.fetchWaitMs / 1e3).getOrElse(0.0)
      values(s"$s.spill_mb") = g.map(_.spillDiskBytes / MB).getOrElse(0.0)
      values(s"$s.task_skew") = g.map(_.taskSkew).getOrElse(0.0)
    }
    values("mentions.per_turn") = ratio(rows("mentions"), turns)
    values("triples.per_mention") = ratio(rows("triples"), rows("mentions"))
    values("link_scores.max_degree") = store.maxDegreeOf("mentions").getOrElse(0L).toDouble
    values("canonical_map.jobs") = group("canonical_map").map(_.jobs.toDouble).getOrElse(0.0)
    values("store.snapshot.wall_s") = wall("store.snapshot")
    values("pass.self_s") = spanOf("pass").map(s => t.selfNs(s) / 1e9).getOrElse(0.0)
    Toolkit.all.foreach(q => values(s"q.$q.wall_s") = wall(s"q.$q"))
    ShuffleQueries.foreach { q =>
      values(s"q.$q.shuffle_write_mb") = group(s"q.$q").map(_.shuffleWriteBytes / MB).getOrElse(0.0)
    }

    // the untraced pass of the toolkit runs only its timed queries
    val tracedComparable = w match {
      case Toolkit => Toolkit.timed.map(q => wall(s"q.$q")).sum
      case _ => tracedWallS
    }
    Result(names.map { case (n, u) => (n, values(n), u) },
      tracedComparable - untracedWallS, untracedWallS, tracedWallS)
  }

  /** The traced run's artifact: inputs, spans with self times, the folded
    * task metrics of every job group, the layer metrics, the overhead and the
    * cache the traced pass left behind.
    */
  def writeArtifact(path: String, w: Workload, seed: Long, variant: Int,
      inputs: Map[String, Inputs.TableStat], t: Tracer, r: Result,
      retainedCacheBytes: Long): Unit = {
    import Stats.num
    val ins = inputs.toSeq.sortBy(_._1).map { case (n, s) =>
      s""""$n": {"rows": ${s.rows}, "bytes": ${s.bytes}}"""
    }.mkString("{", ", ", "}")
    val groups = t.all.filter(s => t.totals(s).tasks > 0)
      .map { s =>
        val g = t.totals(s)
        s""""p${s.pass}:${s.name}": {"jobs": ${g.jobs}, "tasks": ${g.tasks}, """ +
          s""""shuffle_write_bytes": ${g.shuffleWriteBytes}, "fetch_wait_ms": ${g.fetchWaitMs}, """ +
          s""""spill_disk_bytes": ${g.spillDiskBytes}, "spill_mem_bytes": ${g.spillMemBytes}, """ +
          s""""task_run_ms_max": ${if (g.runMs.isEmpty) 0 else g.runMs.max}, """ +
          s""""task_skew": ${num(g.taskSkew)}}"""
      }.distinct.mkString("{\n", ",\n", "\n}")
    val metrics = r.metrics.map { case (n, v, u) =>
      s""""$n": {"value": ${num(v)}, "unit": "$u"}"""
    }.mkString("{\n", ",\n", "\n}")
    val json =
      s"""{"workload": "${w.name}", "seed": $seed, "variant": $variant,
         |"inputs": $ins,
         |"untraced_wall_s": ${num(r.untracedWallS)}, "traced_wall_s": ${num(r.tracedWallS)},
         |"overhead_s": ${num(r.overheadS)}, "retained_cache_bytes": $retainedCacheBytes,
         |"metrics": $metrics,
         |"groups": $groups,
         |"spans": ${t.toJson}}
         |""".stripMargin
    Files.write(Paths.get(path), json.getBytes(StandardCharsets.UTF_8))
    Main.log(f"trace written to $path (overhead ${r.overheadS}%.3f s)")
  }
}
