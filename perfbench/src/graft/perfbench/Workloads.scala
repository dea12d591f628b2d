package graft.perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.SparkEntry
import graft.index.{EntityIndexBuilder, EntityIndexConfig, PropertyIndexBuilder}
import graft.io.ManifestStore
import graft.pipeline.KgPipeline

/** What a workload's pass is run with. With a tracer, `stage` opens a span
  * and a Spark job group around the call into a layer; without one it only
  * runs the call.
  */
final class Ctx(val spark: SparkSession, val in: String, val variant: Int,
    val tracer: Option[Tracer]) {
  def stage[T](name: String)(f: => T): T = tracer.fold(f)(_.span(name, group = true)(f))
  def span[T](name: String)(f: => T): T = tracer.fold(f)(_.span(name)(f))
  def read(table: String): DataFrame = spark.read.parquet(s"$in/$table")
  def inputVersion: String = s"perfbench-variant-$variant"
}

/** One benchmark workload: a set of generated inputs and the pass a single
  * client repeats over them.
  */
trait Workload {
  def name: String

  /** Generates the inputs under `ctx.in` (and, where the workload reuses a
    * prebuilt artifact, builds it); returns what was written.
    */
  def setup(ctx: Ctx): Map[String, Inputs.TableStat]

  /** The timed pass: input tables to committed output under `out`. */
  def pass(ctx: Ctx, out: String): Unit

  /** The same call into the same `out` again; every commit resumes. */
  def resume(ctx: Ctx, out: String): Unit

  /** Items one pass delivers, for `items_per_s`: planted triples on the KG
    * workloads, queries on the toolkit.
    */
  def itemsPerPass: Long

  /** Output checksums (and counts) of a finished pass, keyed for
    * `checksums.json`.
    */
  def sums(ctx: Ctx, out: String): Map[String, String]

  /** How many operations one pass attempts, for `attempted`. */
  def attemptsPerPass: Int = 1

  /** Failed operations of a pass, given its sums and the recorded ones. */
  def failures(got: Map[String, String], want: Map[String, String]): Int =
    if (want.nonEmpty && got == want) 0 else 1

  /** Row counts of stages committed outside a [[ManifestStore]]. */
  def extraRows: Map[String, Long] = Map.empty
}

object Workloads {

  val all: Seq[Workload] = Seq(KgSpan, KgFullHub, Toolkit)

  def byName(n: String): Workload =
    all.find(_.name == n).getOrElse(sys.error(s"unknown workload: $n (known: ${all.map(_.name).mkString(", ")})"))

  /** Bytes of the committed data of every stage under a store directory. */
  def storedBytes(spark: SparkSession, out: String): Long = {
    val store = new ManifestStore(spark, out)
    val dir = new java.io.File(out)
    Option(dir.listFiles()).toSeq.flatten
      .filter(f => f.isDirectory && !f.getName.startsWith("_"))
      .flatMap(f => store.dataDirOf(f.getName).map(d => Fs.bytesUnder(s"$out/${f.getName}/$d")))
      .sum
  }
}

/** Shared by the two KG workloads. */
abstract class KgWorkload extends Workload {
  def shape: Inputs.KgShape

  /** A `timedOpt` hook for `KgPipeline.linkAndMaterialize` that makes the
    * same `ManifestStore.runStage` / `runStageBucketed` calls, under the same
    * fingerprint chaining, as the default hook, each inside a traced stage
    * span. `onCommit` receives each stage's
    * name, whether it resumed, and its wall in ms.
    */
  protected def tracedHook(ctx: Ctx, store: ManifestStore, prefix: String,
      unknownParent: String, chain: scala.collection.mutable.Map[String, String],
      onCommit: (String, Boolean, Long) => Unit)
      : (String, Seq[String], Seq[String]) => (=> DataFrame) => DataFrame = {
    val buckets = ctx.spark.sparkContext.defaultParallelism
    (stage, parents, partitionBy) => f => ctx.stage(stage) {
      val t0 = System.currentTimeMillis()
      val fp = KgPipeline.stageFp(prefix, stage,
        parents.map(p => p -> chain.getOrElse(p, unknownParent)))
      chain(stage) = fp
      val mentions = stage == "mentions"
      val (df, resumed) =
        if (mentions)
          store.runStageBucketed(stage, fp, KgPipeline.MentionBucketCols,
            KgPipeline.MentionSortCols, buckets, Some("id"),
            KgPipeline.DefaultMaxRecordsPerFile, Some("id"))(f)
        else store.runStage(stage, fp, partitionBy, None,
          KgPipeline.DefaultMaxRecordsPerFile, None)(f)
      onCommit(stage, resumed, System.currentTimeMillis() - t0)
      df
    }
  }

  def itemsPerPass: Long = shape.turnRows

  def sums(ctx: Ctx, out: String): Map[String, String] = {
    val store = new ManifestStore(ctx.spark, out)
    def committed(stage: String): DataFrame =
      ctx.spark.read.parquet(s"$out/$stage/${store.dataDirOf(stage).get}")
    Map(
      "triples" -> store.rowCountOf("triples").getOrElse(-1L).toString,
      "nodes" -> Checks.checksum(committed("nodes")),
      "edges" -> Checks.checksum(committed("edges")))
  }

  /** The planted count is checked even where no checksum was recorded. */
  override def failures(got: Map[String, String], want: Map[String, String]): Int =
    if (got.get("triples").contains(shape.turnRows.toString) && got == want) 0 else 1
}

/** The north-rule span over a dictionary built and persisted in set-up:
  * rich labels, so unique labels, a large trie and light co-reference.
  */
object KgSpan extends KgWorkload {
  val name = "kg_span"
  val shape: Inputs.KgShape =
    Inputs.KgShape(convs = 3000, turns = 10, ents = 20000, props = 200, rich = true)

  private var dictRows = 0L
  private var built = Map.empty[String, Long]
  override def extraRows: Map[String, Long] = built

  def setup(ctx: Ctx): Map[String, Inputs.TableStat] = {
    val stats = Inputs.writeKg(ctx.spark, shape, ctx.variant, ctx.in)
    val ents = ctx.read("entities")
    val props = ctx.read("properties")
    val (eiRaw, caches) =
      EntityIndexBuilder.buildTracked(ents, EntityIndexConfig(), persistInput = true)
    ctx.stage("entity_index") { eiRaw.write.parquet(s"${ctx.in}/entity_index") }
    ctx.stage("property_index") {
      PropertyIndexBuilder.build(props).write.parquet(s"${ctx.in}/property_index")
    }
    ctx.stage("dictionary") {
      KgPipeline.dictionary(ctx.read("entity_index"), ents, ctx.read("property_index"), props)
        .write.parquet(s"${ctx.in}/dictionary")
    }
    caches.foreach(_.unpersist(blocking = true))
    built = Seq("entity_index", "property_index", "dictionary")
      .map(t => t -> ctx.read(t).count()).toMap
    dictRows = built("dictionary")
    stats
  }

  private def span(ctx: Ctx, out: String,
      hook: (String, Seq[String], Seq[String]) => (=> DataFrame) => DataFrame): Unit =
    KgPipeline.linkAndMaterialize(ctx.spark, ctx.read("transcripts"), ctx.read("entities"),
      ctx.read("redirects"), ctx.read("dictionary"), ctx.read("entity_index"),
      ctx.read("property_index"), out, inputVersion = ctx.inputVersion,
      dictRowsHint = Some(dictRows), dictVersion = s"dictionary-${ctx.variant}",
      timedOpt = hook)

  def pass(ctx: Ctx, out: String): Unit =
    if (ctx.tracer.isEmpty) span(ctx, out, null)
    else {
      val store = new ManifestStore(ctx.spark, out)
      val chain = scala.collection.mutable.Map.empty[String, String]
      span(ctx, out, tracedHook(ctx, store, s"iv=${ctx.inputVersion};saltN=0",
        s"dictionary-${ctx.variant}", chain, (_, _, _) => ()))
      ctx.span("store.snapshot") { store.commitSnapshot() }
    }

  def resume(ctx: Ctx, out: String): Unit = span(ctx, out, null)
}

/** `KgPipeline.run` from raw dumps with the 2-token hazard vocabulary and an
  * entity dump that is large next to the transcripts.
  */
object KgFullHub extends KgWorkload {
  val name = "kg_full_hub"
  val shape: Inputs.KgShape =
    Inputs.KgShape(convs = 500, turns = 10, ents = 10000, props = 200, rich = false)

  private var built = Map.empty[String, Long]
  override def extraRows: Map[String, Long] = built

  def setup(ctx: Ctx): Map[String, Inputs.TableStat] =
    Inputs.writeKg(ctx.spark, shape, ctx.variant, ctx.in)

  private def run(ctx: Ctx, out: String): Unit =
    KgPipeline.run(ctx.spark, ctx.read("transcripts"), ctx.read("entities"),
      ctx.read("properties"), ctx.read("redirects"), out,
      inputVersion = ctx.inputVersion)

  def pass(ctx: Ctx, out: String): Unit =
    if (ctx.tracer.isEmpty) run(ctx, out) else tracedRun(ctx, out)

  def resume(ctx: Ctx, out: String): Unit = run(ctx, out)

  /** `KgPipeline.run` step by step, in its order, with the index builders
    * and `dictionary` called directly. The dictionary is materialized in its
    * own span so its cost is not charged to `mentions`, which collects it.
    */
  private def tracedRun(ctx: Ctx, out: String): Unit = {
    import ctx.spark.implicits._
    val spark = ctx.spark
    val store = new ManifestStore(spark, out)
    val cfg = EntityIndexConfig()
    val t0 = System.currentTimeMillis()
    val chain = scala.collection.mutable.Map.empty[String, String]
    val metricsRows = scala.collection.mutable.ArrayBuffer.empty[(String, Long, Long, Boolean)]
    val timed = tracedHook(ctx, store, s"cfg=$cfg;saltN=0;iv=${ctx.inputVersion}", "", chain,
      (stage, resumed, ms) =>
        metricsRows += ((stage, store.rowCountOf(stage).getOrElse(-1L), ms, resumed)))
    val entities = ctx.read("entities")
    val properties = ctx.read("properties")
    val (eiRaw, caches) = EntityIndexBuilder.buildTracked(entities, cfg, persistInput = true)
    val ei = timed("entity_index", Nil, Nil)(eiRaw)
    val pi = timed("property_index", Nil, Nil)(PropertyIndexBuilder.build(properties))
    val dict = ctx.stage("dictionary") {
      val d = KgPipeline.dictionary(ei, entities, pi, properties).persist()
      built = Map("dictionary" -> d.count())
      d
    }
    val hint = for (e <- store.rowCountOf("entity_index"); p <- store.rowCountOf("property_index"))
      yield e + p
    KgPipeline.linkAndMaterialize(spark, ctx.read("transcripts"), entities,
      ctx.read("redirects"), dict, ei, pi, out, inputVersion = ctx.inputVersion,
      dictRowsHint = hint,
      dictVersion = s"ei=${chain("entity_index")};pi=${chain("property_index")}",
      timedOpt = timed)
    caches.foreach(_.unpersist(blocking = false))
    dict.unpersist(blocking = false)
    metricsRows.toSeq
      .map { case (st, rows, ms, res) => (st, rows, ms, res, System.currentTimeMillis() - t0) }
      .toDF("stage", "rows_out", "wall_ms", "resumed", "total_ms")
      .coalesce(1).write.mode("append").parquet(s"$out/_metrics")
    ctx.span("store.snapshot") { store.commitSnapshot() }
  }
}

/** The `SparkEntry.queries` toolkit. Each query's result is committed
  * through `ManifestStore.runStage`, as a curation job persists its output;
  * the resume pass reads every result back from its commit.
  */
object Toolkit extends Workload {
  val name = "toolkit"
  val shape: Inputs.ToolkitShape = Inputs.ToolkitShape(sf = 0.01)

  /** Queries of the timed pass. All 56 take ~50 s per pass on 4 cores, too
    * long for a run's share of the time budget, so the timed pass runs one
    * query per family: the `a1_group_label` control (core operators),
    * MinHash-LSH and SimHash dedup (the codegen'd sketch expressions), IVF
    * top-k (the packed Lloyd reduction) and the entity-index cascade. The
    * traced run executes all 56.
    */
  val timed: Seq[String] = Seq("a1_group_label", "dedup_minhash_lsh",
    "dedup_simhash", "ann_ivf_topk", "kg_entity_index")

  val all: Seq[String] = SparkEntry.queries.keys.toSeq.sorted

  /** The queries a pass runs; the traced pass widens it to [[all]]. */
  var selected: Seq[String] = timed

  override def attemptsPerPass: Int = selected.size

  def setup(ctx: Ctx): Map[String, Inputs.TableStat] =
    Inputs.writeToolkit(ctx.spark, shape, ctx.variant, ctx.in)

  private def stageOf(q: String) = s"q_$q"

  private def runAll(ctx: Ctx, out: String): Unit = {
    val store = new ManifestStore(ctx.spark, out)
    selected.foreach { q =>
      ctx.stage(s"q.$q") {
        try store.runStage(stageOf(q), s"iv=${ctx.inputVersion};q=$q") {
          SparkEntry.queries(q)(ctx.spark, ctx.in)
        }
        catch { case e: Exception => Main.log(s"query $q failed: $e") }
      }
    }
  }

  def pass(ctx: Ctx, out: String): Unit = runAll(ctx, out)
  def resume(ctx: Ctx, out: String): Unit = runAll(ctx, out)

  def itemsPerPass: Long = selected.size.toLong

  def sums(ctx: Ctx, out: String): Map[String, String] = {
    val store = new ManifestStore(ctx.spark, out)
    selected.map { q =>
      q -> store.dataDirOf(stageOf(q))
        .map(d => Checks.checksum(ctx.spark.read.parquet(s"$out/${stageOf(q)}/$d")))
        .getOrElse("missing")
    }.toMap
  }

  override def failures(got: Map[String, String], want: Map[String, String]): Int =
    got.count { case (q, s) => !want.get(q).contains(s) }
}
