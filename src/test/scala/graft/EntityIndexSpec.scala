package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.aggregate.{BaseAggregateExec, SortAggregateExec}
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.apache.spark.sql.execution.exchange.{REPARTITION_BY_COL, ShuffleExchangeExec}
import org.apache.spark.sql.execution.window.WindowExec
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

import graft.index.{EntityIndexBuilder, EntityIndexConfig}
import graft.model.{IndexEntry, RawEntity}
import graft.oracle.ReferenceOracle

/** Distributed cascade == in-process transcription of the Rust loops, on
  * generated dumps planted with every hazard the reference exercises:
  * label collisions, alias/label overlaps, popular-alias overrides, count
  * ties, dangling types, duplicate aliases within one entity, empty descs.
  */
class EntityIndexSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  def runSpark(rows: Seq[RawEntity], cfg: EntityIndexConfig): Set[IndexEntry] = {
    import spark.implicits._
    val df = EntityIndexBuilder.build(rows.toDF(), cfg)
    df.collect().map { r =>
      IndexEntry(r.getString(0), Option(r.getString(1)), r.getString(2), r.getInt(3))
    }.toSet
  }

  def oracleCfg(cfg: EntityIndexConfig): ReferenceOracle.Config =
    ReferenceOracle.Config(cfg.ignoreTypes, cfg.keepMostCommonNonUnique,
      cfg.checkForPopularAliases)

  val genEntities: Gen[Seq[RawEntity]] = for {
    n <- Gen.choose(1, 40)
    rows <- Gen.sequence[Seq[RawEntity], RawEntity]((0 until n).map { i =>
      for {
        label <- Gen.oneOf((0 until 8).map(j => s"L$j"))
        desc <- Gen.oneOf("", "d0", "d1", "d2")
        count <- Gen.choose(0L, 12L)
        nTypes <- Gen.choose(0, 2)
        types <- Gen.listOfN(nTypes, Gen.choose(1, n + 5).map(k => s"Q$k"))
        nAliases <- Gen.choose(0, 3)
        aliases0 <- Gen.listOfN(nAliases,
          Gen.oneOf((0 until 10).map(j => s"a$j") ++ (0 until 8).map(j => s"L$j")))
        dup <- Gen.oneOf(true, false)
      } yield {
        val aliases = if (dup && aliases0.nonEmpty) aliases0 :+ aliases0.head else aliases0
        RawEntity(s"Q${i + 1}", label, desc, count, types, aliases, i.toLong)
      }
    })
  } yield rows

  def sample[T](gen: Gen[T], seed: Long): T =
    gen(Gen.Parameters.default, Seed(seed)).get

  val configs = Seq(
    EntityIndexConfig(ignoreTypes = false, keepMostCommonNonUnique = true, checkForPopularAliases = true),
    EntityIndexConfig(ignoreTypes = true, keepMostCommonNonUnique = true, checkForPopularAliases = false),
    EntityIndexConfig(ignoreTypes = false, keepMostCommonNonUnique = false, checkForPopularAliases = true))

  test("spark cascade == reference oracle (property-based)") {
    for (cfg <- configs; seed <- 1L to 12L) {
      val rows = sample(genEntities, seed * 31 + cfg.hashCode())
      val got = runSpark(rows, cfg)
      val want = ReferenceOracle.entityIndex(rows, oracleCfg(cfg))
      assert(got == want, s"\ncfg=$cfg seed=$seed\nrows=$rows\nonly-spark=${got -- want}\nonly-oracle=${want -- got}")
    }
  }

  test("hand-built: collision + override + info fallback") {
    // Q1/Q2 collide on label "apple"; Q3 holds unique alias "apple" with a
    // higher count than both → override demotes even the E3 fallback.
    val rows = Seq(
      RawEntity("Q1", "apple", "fruit", 5, Nil, Nil, 0),
      RawEntity("Q2", "apple", "company", 8, Nil, Nil, 1),
      RawEntity("Q3", "banana", "fruit", 50, Nil, Seq("apple"), 2))
    val cfg = EntityIndexConfig(ignoreTypes = true)
    val got = runSpark(rows, cfg)
    val want = ReferenceOracle.entityIndex(rows, oracleCfg(cfg))
    assert(got == want)
    // the popular alias claims the plain slot; colliding labels go to info
    assert(got.contains(IndexEntry("apple", None, "Q3", 2)))
    assert(got.contains(IndexEntry("apple", Some("fruit"), "Q1", 1)))
    assert(got.contains(IndexEntry("apple", Some("company"), "Q2", 1)))
    assert(got.contains(IndexEntry("banana", None, "Q3", 0)))
  }

  test("hand-built: type resolution picks most-frequent type label (J2)") {
    val rows = Seq(
      RawEntity("Q1", "city", "", 100, Nil, Nil, 0),
      RawEntity("Q2", "village", "", 10, Nil, Nil, 1),
      // labels collide → info = last type after count-ascending sort
      RawEntity("Q3", "springfield", "place", 5, Seq("Q2", "Q1"), Nil, 2),
      RawEntity("Q4", "springfield", "place", 4, Seq("Q9", "Q2"), Nil, 3),
      // Q5 holds "springfield" as a globally-unique popular alias → the
      // override (J3) keeps BOTH label-info groups off the plain slot
      RawEntity("Q5", "shelbyville", "town", 1000, Nil, Seq("springfield"), 4))
    val cfg = EntityIndexConfig()
    val got = runSpark(rows, cfg)
    assert(got == ReferenceOracle.entityIndex(rows, oracleCfg(cfg)))
    // Q3: types sorted by count asc → [village(10), city(100)] → info "city";
    // Q4: dangling Q9 dropped → info "village"; Q5's alias takes the plain slot
    assert(got.contains(IndexEntry("springfield", Some("city"), "Q3", 1)))
    assert(got.contains(IndexEntry("springfield", Some("village"), "Q4", 1)))
    assert(got.contains(IndexEntry("springfield", None, "Q5", 2)))
  }

  def assertOracle(rows: Seq[RawEntity], cfg: EntityIndexConfig): Set[IndexEntry] = {
    val got = runSpark(rows, cfg)
    val want = ReferenceOracle.entityIndex(rows, oracleCfg(cfg))
    assert(got == want, s"\nonly-spark=${got -- want}\nonly-oracle=${want -- got}")
    got
  }

  test("J2 edge cases: repeated type, count ties, dangling, self-typed, empty/null") {
    // every subject label also belongs to a far more popular decoy, which
    // claims the plain slot, so each subject's info shows in its
    // (label, info) slot
    val types = Seq(
      RawEntity("T1", "tcity", "", 100, Nil, Nil, 0),
      RawEntity("T2", "tvillage", "", 10, Nil, Nil, 1),
      RawEntity("T3", "ttown", "", 10, Nil, Nil, 2))
    val subjects = Seq(
      // T2 twice: its later position outranks T3 on the count tie
      RawEntity("S1", "dup", "d", 5, Seq("T2", "T3", "T2"), Nil, 3),
      // equal counts: the later array position wins
      RawEntity("S2", "tie", "d", 5, Seq("T2", "T3"), Nil, 4),
      RawEntity("S3", "tie", "d", 4, Seq("T3", "T2"), Nil, 5),
      RawEntity("S4", "dangling", "fallback", 5, Seq("Q404", "Q405"), Nil, 6),
      RawEntity("S5", "self", "d", 7, Seq("S5"), Nil, 7),
      RawEntity("S6", "empty", "emptydesc", 5, Nil, Nil, 8),
      RawEntity("S7", "empty", "nulldesc", 4, null, Nil, 9))
    val decoys = subjects.map(_.label).distinct.zipWithIndex.map { case (l, i) =>
      RawEntity(s"D$i", l, "decoy", 1000, Nil, Nil, 100L + i)
    }
    val got = assertOracle(types ++ subjects ++ decoys, EntityIndexConfig())
    Seq(
      IndexEntry("dup", Some("tvillage"), "S1", 1),
      IndexEntry("tie", Some("ttown"), "S2", 1),
      IndexEntry("tie", Some("tvillage"), "S3", 1),
      IndexEntry("dangling", Some("fallback"), "S4", 1),
      IndexEntry("self", Some("self"), "S5", 1),
      IndexEntry("empty", Some("emptydesc"), "S6", 1),
      IndexEntry("empty", Some("nulldesc"), "S7", 1)
    ).foreach(e => assert(got.contains(e), s"missing $e in $got"))
  }

  test("J3 on the seq surrogate: equal counts and self-held aliases never override") {
    // seq order runs against qid order, so a surrogate mix-up would show
    val rows = Seq(
      RawEntity("Q1", "beta", "letter", 5, Nil, Nil, 4),
      RawEntity("Q2", "alpha", "greek", 5, Nil, Seq("beta"), 3),
      RawEntity("Q3", "gamma", "greek", 5, Nil, Seq("delta"), 2),
      RawEntity("Q4", "delta", "river", 4, Nil, Nil, 1),
      RawEntity("Q5", "eps", "small", 3, Nil, Seq("eps"), 0))
    val got = assertOracle(rows, EntityIndexConfig())
    // equal count (5 vs 5): beta keeps its own plain slot, Q2's alias falls
    // back to (alias, info)
    assert(got.contains(IndexEntry("beta", None, "Q1", 0)))
    assert(got.contains(IndexEntry("beta", Some("greek"), "Q2", 3)))
    // strictly higher count (5 > 4): the alias holder takes the plain slot
    assert(got.contains(IndexEntry("delta", None, "Q3", 2)))
    assert(got.contains(IndexEntry("delta", Some("river"), "Q4", 1)))
    // holder == the entity itself: no override
    assert(got.contains(IndexEntry("eps", None, "Q5", 0)))
  }

  /** The nodes of the plan a persisted frame caches, through AQE wrappers
    * and query stages, stopping at upstream caches (an InMemoryTableScan is
    * a leaf): the frame's OWN stage.
    */
  def cachedStage(df: DataFrame): Seq[SparkPlan] = {
    val cached = df.queryExecution.optimizedPlan.collectFirst {
      case r: InMemoryRelation => r.cachedPlan
    }.getOrElse(fail(s"frame must be cached:\n${df.queryExecution.optimizedPlan}"))
    def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case q: QueryStageExec => q +: nodes(q.plan)
      case _ => p +: p.children.flatMap(nodes)
    }
    nodes(cached)
  }

  def hashKeys(e: ShuffleExchangeExec): Seq[String] = e.outputPartitioning match {
    case h: HashPartitioning => h.expressions.flatMap(_.references.map(_.name))
    case _ => Nil
  }

  test("r6 internals: input persist gated on fan-out; e34 shares one label exchange") {
    import spark.implicits._
    val dump = sample(genEntities, 7L).toDF()
    // ignoreTypes reads the dump exactly twice (withInfo is a projection) —
    // the build must NOT cache it (two pruned scans beat a full-width cache)
    val (idx1, h1) = EntityIndexBuilder.buildTracked(
      dump, EntityIndexConfig(ignoreTypes = true))
    idx1.count()
    assert(!dump.storageLevel.useMemory,
      "ignoreTypes build must not cache the input dump")
    h1.foreach(_.unpersist(blocking = true))
    // the pipeline path forces the cache and the handles release it
    val (idx2, h2) = EntityIndexBuilder.buildTracked(
      dump, EntityIndexConfig(), persistInput = true)
    idx2.count()
    assert(dump.storageLevel.useMemory, "persistInput=true must cache the dump")
    h2.foreach(_.unpersist(blocking = true))
    assert(!dump.storageLevel.useMemory, "handles must release the dump cache")
    // e34 is persisted; its own stage holds exactly one hash exchange, the
    // explicit label repartition, shared by the group aggregate and the O1
    // window
    val (idx3, c3) = EntityIndexBuilder.buildWithCaches(
      dump, EntityIndexConfig(ignoreTypes = true), persistInput = false)
    val e34 = cachedStage(c3.e34)
    val exchanges = e34.collect { case e: ShuffleExchangeExec => e }
    assert(exchanges.length == 1,
      s"e34 must plan exactly one hash exchange (shared by aggregate and window):\n${exchanges.mkString("\n")}")
    assert(hashKeys(exchanges.head) == Seq("label") &&
      exchanges.head.shuffleOrigin == REPARTITION_BY_COL,
      s"the one exchange must be the explicit label repartition:\n${exchanges.head}")
    assert(e34.exists(_.isInstanceOf[BaseAggregateExec]) && e34.exists(_.isInstanceOf[WindowExec]),
      s"the group aggregate and the O1 window must sit on that exchange:\n${e34.mkString("\n")}")
    idx3.count()
    c3.all.foreach(_.unpersist(blocking = true))
    // cand with type resolution: J2 resolves types inside each entity row
    // and A2/A4 keys the alias holder by seq, so no exchange is keyed on
    // qid and every aggregate is hash-based
    val (idx4, c4) = EntityIndexBuilder.buildWithCaches(
      dump, EntityIndexConfig(), persistInput = false)
    val cand = cachedStage(c4.cand)
    val qidKeyed = cand.collect {
      case e: ShuffleExchangeExec if hashKeys(e).exists(Set("qid", "e_qid")) => e
    }
    assert(qidKeyed.isEmpty, s"cand must not shuffle on qid:\n${qidKeyed.mkString("\n")}")
    val sortAggs = cand.collect { case a: SortAggregateExec => a }
    assert(sortAggs.isEmpty, s"cand must plan no SortAggregate:\n${sortAggs.mkString("\n")}")
    idx4.count()
    c4.all.foreach(_.unpersist(blocking = true))
  }

  test("a caller-persisted dump stays cached after the handles are released") {
    import spark.implicits._
    val dump = sample(genEntities, 9L).toDF().persist()
    try {
      dump.count()
      for (cfg <- Seq(EntityIndexConfig(ignoreTypes = true), EntityIndexConfig())) {
        val (idx, h) = EntityIndexBuilder.buildTracked(dump, cfg, persistInput = false)
        idx.count()
        h.foreach(_.unpersist(blocking = true))
        assert(dump.storageLevel.useMemory,
          s"releasing the handles must leave the caller's own cache ($cfg)")
      }
    } finally dump.unpersist(blocking = true)
  }

  test("E6 invariant: at most one primary (kind<=1) surface per entity") {
    for (seed <- 1L to 20L) {
      val rows = sample(genEntities, 7000 + seed)
      val idx = ReferenceOracle.entityIndex(rows, ReferenceOracle.Config())
      assert(idx.groupBy(_.id).forall(_._2.count(_.kind <= 1) <= 1))
    }
  }
}
