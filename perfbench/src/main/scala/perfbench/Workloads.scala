package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Corpus, PathQueries, SearchIndex, Similarity}
import graft.plans.{Pipelines, QueryCatalog}
import graft.sources.GraphStore

/** What every workload shares: the session, tracer, op recorder, seed and
  * its own input and output directories. */
final case class Ctx(spark: SparkSession, tr: Tracer, ops: Ops, seed: Long,
                     inputs: String, out: String) {
  /** Drop what earlier operations pinned (checkpoints, caches) so each
    * operation starts from the same state. */
  def releaseAll(): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
  }
}

/** A named metric reported beside the contract metrics. */
final case class Named(name: String, value: Double, unit: String, samples: Int)

/** A run is: generate, several set-ups, then a batch job and a closed
  * loop of requests. */
trait Workload {
  def clients: Int = 1
  /** The request kinds that are reads; `request_p50_ms` is their median. */
  def isRead(kind: String): Boolean
  /** Generate the inputs; returns their sizes. */
  def generate(): Map[String, Long]
  /** One set-up; the benchmark times several and reports the median. */
  def setup(): Unit
  /** The workload's batch job, recorded through `ctx.ops`. */
  def batch(): Unit
  /** Untimed preparation of the request loop (expected answers, warm-up). */
  def prepare(): Unit
  /** One request of client `client`, recorded through `ctx.ops`. */
  def step(client: Int): Unit
  /** Checks made once per run, after the loop. */
  def finish(): Seq[String]
  /** The workload's own metrics, by the names the design uses. */
  def named(recs: Seq[OpRec], loopWall: Double): Seq[Named]
}

object Workloads {
  val names: Seq[String] = Seq("cellkn_etl_query", "corpus_ann")

  def apply(name: String, ctx: Ctx): Workload = name match {
    case "cellkn_etl_query" => new CellknWorkload(ctx)
    case "corpus_ann" => new CorpusAnnWorkload(ctx)
  }

  /** Latencies of one kind with failures as +inf, so a failed operation
    * misses every percentile. */
  def latencies(recs: Seq[OpRec], kind: String): Seq[Double] =
    recs.filter(_.kind == kind).map(r =>
      if (r.failure.isEmpty) r.seconds else Double.PositiveInfinity)

  /** The median and the highest percentile with ten samples beyond it. */
  def percentiles(prefix: String, xs: Seq[Double], scale: Double, unit: String): Seq[Named] =
    if (xs.isEmpty) Nil
    else Named(s"${prefix}_p50_$unit", Stats.median(xs) * scale, unit, xs.size) +:
      Stats.tailPercentile(xs.size).toSeq.map { p =>
        val tag = if (p == p.floor) p.toInt.toString else p.toString.replace('.', '_')
        Named(s"${prefix}_p${tag}_$unit", Stats.percentile(xs, p) * scale, unit, xs.size)
      }
}

// ---------------------------------------------------------------------------

/** The Cell-KN chain: one ETL pass over a generated release plus a deep
  * hierarchy walk and an entity ranking over what it stored (the batch
  * job), then a two-client closed loop of interactive lookups against the
  * stores, each a search-view prefix lookup and a catalog path query over
  * the results hop tables. */
final class CellknWorkload(ctx: Ctx) extends Workload {
  import ctx._
  import Cellkn.{OntHops, ResHops, View, canonical, describe, searchFrame}
  override val clients = 2
  def isRead(kind: String): Boolean = kind == "query.lookup"
  private var rel: Gen.Release = _
  private var kn: Cellkn = _
  private var runnableCount = 0

  /** One read: the call it makes and its expected answer. */
  final class Req(val kind: String, val label: String, val call: () => Array[Row],
                  canon: Array[Row] => Any, reference: () => Array[Row]) {
    var expected: Any = _
    def prepare(): Unit = expected = canon(reference())
    def check(rows: Array[Row]): Seq[String] =
      if (canon(rows) == expected) Nil
      else Seq(s"$kind $label: answer differs from the expected answer")
    def warm(): Unit = call()
  }

  private var paths: Seq[Req] = Nil
  private var searches: Seq[Req] = Nil

  def generate(): Map[String, Long] = {
    rel = Gen.release(inputs, seed)
    kn = new Cellkn(spark, rel, out, tr)
    Map("owl_files" -> rel.owl.size.toLong, "ontology_classes" -> rel.expect.ontVertices,
      "ontology_edges" -> rel.expect.ontEdges, "clusters" -> rel.expect.clusters.toLong)
  }

  def setup(): Unit = kn.openRelease()

  /** The ETL pass, then the two loop-shaped reads of what it stored: a
    * deep hierarchy walk and an entity ranking. */
  override def batch(): Unit = {
    ops.run("etl")(if (tr.active) kn.passTraced() else kn.passUntraced())(kn.checkPass)
    releaseAll()
    // the walk climbs the NCBITaxon subClassOf chain (depth cap 64) from
    // every CL class's taxon: its answer is known in closed form
    ops.run("query.hierarchy")(tr.span("PathQueries.hierarchy") {
      PathQueries.withHierarchyBucketed(spark, OntHops,
        PathQueries.kHopBucketed(spark, OntHops, "CL", Seq("NCBITaxon")),
        "subClassOf", 64).collect()
    }) { rows =>
      val got = rows.map { x =>
        val vs = x.getSeq[Row](0)
        (vs.head.getString(1), vs(1).getString(1), vs.size)
      }.sorted.toSeq
      if (got == rel.expect.deepWalks) Nil
      else Seq(s"deep walk returned ${got.size} paths, expected ${rel.expect.deepWalks.size} " +
        "(or their lengths differ)")
    }
    // no unbucketed twin: the answer must rank some vertices, every rank
    // finite and positive
    val (rv, re) = stored("res")
    val rankQs = kn.runnable(rv.select("collection")).filter(_.hierarchy.isEmpty).take(1)
    ops.run("query.rank")(tr.span("QueryCatalog.rankRelatedEntities") {
      QueryCatalog.rankRelatedEntities(rv.select("collection", "key", "term"), re,
        iterations = 3, queries = rankQs).collect()
    }) { rows =>
      if (rows.nonEmpty && rows.forall { x =>
          val v = x.getDouble(2); !v.isNaN && !v.isInfinite && v > 0 }) Nil
      else Seq(s"ranking over ${rankQs.map(describe).mkString} is empty or not finite")
    }
    releaseAll()
  }

  private def stored(p: String): (DataFrame, DataFrame) =
    (GraphStore.readVertices(spark, s"$out/$p/vertices"),
      GraphStore.readEdges(spark, s"$out/$p/edges")
        .select("from_coll", "from_key", "to_coll", "to_key", "label"))

  /** The request pool; each expected answer is computed once through the
    * unbucketed path over the stored graphs. */
  override def prepare(): Unit = {
    val r = new scala.util.Random(seed)
    val (ov, _) = stored("ont")
    val (rv0, re) = stored("res")
    val rv = rv0.select("collection", "key", "term")
    val plain = kn.runnable(rv).filter(_.hierarchy.isEmpty)
    // catalog path queries over the results hop tables: the first
    // runnable ones in catalog order, so every run sends the same queries
    val paths = plain.take(2).map { q =>
      new Req("path", describe(q),
        () => tr.span("PathQueries.kHop")(q.runBucketed(spark, ResHops).collect()),
        canonical, () => q.run(rv, re).collect())
    }
    // search-view prefix lookups
    val words = rel.labels.values.flatten.toIndexedSeq.distinct.sorted
    val postings = SearchIndex.postings(searchFrame(ov), Seq("collection", "key"),
      Map("label" -> (c => SearchIndex.edgeNgramTokens(c))))
    val search = (0 until 2).map { _ =>
      val prefixes = Seq.fill(3)(words(r.nextInt(words.size))).map(w => w.take(3 + r.nextInt(4)))
      new Req("search", prefixes.mkString(","),
        () => tr.span("SearchIndex.search")(SearchIndex.search(spark.table(View), prefixes)
          .select("collection", "key", "token").collect()),
        canonical,
        () => SearchIndex.search(postings, prefixes).select("collection", "key", "token").collect())
    }
    (paths ++ search).foreach(_.prepare())
    // warm the request path once, untimed: a serving process is warm
    (paths ++ search).foreach(_.warm())
    this.paths = paths
    this.searches = search
  }

  /** One interactive lookup: the search-view prefix lookups, then the
    * catalog path queries. Every lookup has the same shape, so the median
    * of a short loop does not jump between cheaper and dearer requests. */
  override def step(client: Int): Unit = {
    val reads = searches ++ paths
    ops.run("query.lookup")(reads.map(_.call())) { rows =>
      reads.zip(rows).flatMap { case (q, r) => q.check(r) }
    }
  }

  override def finish(): Seq[String] = {
    val (n, errs) = kn.checkCatalog(seed)
    runnableCount = n
    errs
  }

  def named(recs: Seq[OpRec], loopWall: Double): Seq[Named] = {
    val etl = Workloads.latencies(recs, "etl")
    val reqs = recs.filter(_.loop)
    val q = reqs.map(r => if (r.failure.isEmpty) r.seconds else Double.PositiveInfinity)
    val byKind = recs.filter(_.kind.startsWith("query.")).groupBy(_.kind).toSeq.sortBy(_._1).map { case (k, rs) =>
      val xs = Workloads.latencies(rs, k)
      Named(s"${k.replace('.', '_')}_p50_ms", Stats.median(xs) * 1e3, "ms", xs.size)
    }
    Seq(Named("etl_s", Stats.median(etl), "s", etl.size),
      Named("catalog_queries_runnable", runnableCount, "count", 24)) ++
      Workloads.percentiles("query", q, 1e3, "ms") ++ byKind :+
      Named("query_rps", reqs.count(_.failure.isEmpty) / loopWall, "1/s", q.size)
  }
}

// ---------------------------------------------------------------------------

/** Training-data curation (`Pipelines.curateCorpus`, then
  * `Corpus.cooccurrenceCounts` on the train split) as the batch job. */
final class Curation(ctx: Ctx) {
  import ctx._
  private var gen: Gen.Corpus = _
  private var docs: DataFrame = _
  private var bench: DataFrame = _
  val Window = 2
  val TopK = 50

  def generate(): Map[String, Long] = {
    gen = Gen.corpus(spark, inputs, seed)
    Map("documents" -> gen.expect("0_input"), "eval_documents" -> 40L)
  }

  def setup(): Unit = {
    docs = spark.read.parquet(gen.docs)
    bench = spark.read.parquet(gen.bench)
    require(docs.count() == gen.expect("0_input") && bench.count() == 40)
  }

  private def untraced(): (Map[String, Long], Array[Row]) = {
    val cur = Pipelines.curateCorpus(docs, bench, benchN = 5)
    val census = cur.census.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val cooc = Corpus.cooccurrenceCounts(cur.corpus.filter(col("split") === "train"),
      "doc_id", "text", Window, TopK).collect()
    (census, cooc)
  }

  /** The stages of `Pipelines.curateCorpus`, each forced in its span. */
  private def traced(): (Map[String, Long], Array[Row]) = {
    val (q, d1) = tr.span("Pipelines.filterStages") {
      val q = Pipelines.qualityStage(docs).localCheckpoint(true)
      (q, Pipelines.exactStage(q).localCheckpoint(true))
    }
    val d2 = tr.span("Dedup.nearDup")(Pipelines.nearDupStage(d1).localCheckpoint(true))
    val d3 = tr.span("Corpus.decontaminate")(
      Corpus.decontaminate(d2, bench, n = 5).localCheckpoint(true))
    val (labeled, census) = tr.span("Pipelines.filterStages") {
      val labeled = Pipelines.splitStage(d3).localCheckpoint(true)
      val splits = labeled.groupBy("split").count().collect()
        .map(r => s"5_split_${r.getString(0)}" -> r.getLong(1))
      (labeled, Map("0_input" -> docs.count(), "1_quality" -> q.count(),
        "2_exact" -> d1.count(), "3_neardup" -> d2.count(),
        "4_decontam" -> d3.count()) ++ splits)
    }
    val cooc = tr.span("Corpus.cooccurrenceCounts")(Corpus.cooccurrenceCounts(
      labeled.filter(col("split") === "train"), "doc_id", "text", Window, TopK).collect())
    (census, cooc)
  }

  def batch(): Unit = {
    ops.run("curate")(if (tr.active) traced() else untraced()) { case (census, cooc) =>
      val bad = Seq.newBuilder[String]
      if (census != gen.expect)
        bad += s"stage census ${census.toSeq.sorted} != planted ${gen.expect.toSeq.sorted}"
      val ns = cooc.map(_.getAs[Long]("n"))
      if (cooc.length != TopK) bad += s"co-occurrence top-k has ${cooc.length} rows"
      if (ns.zip(ns.drop(1)).exists { case (a, b) => a < b })
        bad += "co-occurrence counts are not ranked"
      bad.result()
    }
    releaseAll()
  }

  def named(recs: Seq[OpRec]): Seq[Named] = {
    val xs = Workloads.latencies(recs, "curate")
    Seq(Named("curate_s", Stats.median(xs), "s", xs.size))
  }
}

// ---------------------------------------------------------------------------

/** The lifecycle of a versioned hierarchical IVF-PQ index: appends,
  * deletes and a compaction ([[maintain]]), and a one-client closed loop
  * of live top-10 queries. */
final class AnnLifecycle(ctx: Ctx) {
  import ctx._
  import spark.implicits._
  val K = 10
  val NProbe = 4
  /** Recall@10 on the fixed probe set must reach this floor. */
  val RecallFloor = 0.7

  private var emb: Gen.Embeddings = _
  private var setups = 0
  private def root = s"$out/ann/index$setups"
  private def ingest = s"$out/ann/ingest$setups"
  private val live = mutable.LinkedHashMap.empty[Long, Array[Float]]
  private val deleted = mutable.Set.empty[Long]
  private var nextId = 0L
  private var batchId = 0L
  private var recall = Double.NaN
  private lazy val r = new java.util.Random(seed * 17 + 5)

  def generate(): Map[String, Long] = {
    emb = Gen.embeddings(inputs, seed)
    live ++= emb.base
    nextId = emb.base.size.toLong
    Map("vectors" -> emb.base.size.toLong, "dim" -> emb.dim.toLong,
      "probes" -> emb.probes.size.toLong)
  }

  def setup(): Unit = {
    setups += 1
    tr.span("Similarity.refresh") {
      Similarity.refreshIvfPqIndexHier(spark.read.schema(Gen.VectorSchema).json(emb.path), nCells = 8,
        dim = emb.dim, m = 8, kCodes = 64, root, sampleBudget = 512)
    }
  }

  private def queryFrame(vs: Seq[Array[Float]]): DataFrame =
    vs.zipWithIndex.map { case (v, i) => (-1L - i, v.toSeq) }.toDF("vec_id", "embedding")

  private def query(vs: Seq[Array[Float]]): Map[Long, Seq[Long]] = {
    val rows = Similarity.queryLiveIvfPqIndexHier(spark, root, ingest,
      queryFrame(vs), K, NProbe).select("query_id", "nbr_id").collect()
    rows.groupBy(_.getLong(0)).map { case (q, xs) => q -> xs.map(_.getLong(1)).toSeq }
  }

  private def checkAnswer(n: Int)(ans: Map[Long, Seq[Long]]): Seq[String] = {
    val bad = Seq.newBuilder[String]
    if (ans.size != n || ans.values.exists(_.size != K))
      bad += s"expected $K neighbours for each of $n queries"
    val dead = ans.values.flatten.filter(deleted)
    if (dead.nonEmpty) bad += s"tombstoned ids returned: ${dead.take(5).mkString(",")}"
    bad.result()
  }

  /** One untimed query, so the loop measures a warm serving path. */
  def prepare(): Unit = query(Seq(Gen.nearCenter(r, emb)))

  /** One live top-10 query of two vectors near cluster centers. */
  def step(): Unit = {
    val vs = Seq.fill(2)(Gen.nearCenter(r, emb))
    ops.run("ann_query")(tr.span("Similarity.query")(query(vs)))(checkAnswer(vs.size))
  }

  /** Index maintenance before the queries: an append and a delete, a
    * compaction, then another append, so the queries that follow read a
    * compacted version plus a live delta. */
  def maintain(): Unit = {
    append(); delete()
    ops.run("ann_compact")(tr.span("Similarity.compact") {
      Similarity.compactIvfPqIndexHier(spark, root, ingest)
    })(_ => Nil)
    append()
  }

  private def append(): Unit = {
    val add = (0 until 16).map { _ => nextId += 1; nextId -> Gen.nearCenter(r, emb) }
    batchId += 1
    val b = batchId
    ops.run("ann_write")(tr.span("Similarity.write") {
      val v = Similarity.currentIvfVersion(spark, root).get
      val hq = Similarity.readHierQuantizer(spark, s"$root/v$v/quantizer")
      val cb = Similarity.readPqCodebooks(spark, root, v)
      Similarity.appendToIvfPqIndexHier(
        add.map { case (id, v) => (id, v.toSeq) }.toDF("vec_id", "embedding"),
        hq, cb, s"$ingest/batch=$b")
    })(_ => Nil)
    live ++= add
  }

  private def delete(): Unit = {
    val ids = scala.util.Random.javaRandomToRandom(r).shuffle(live.keys.toSeq).take(3)
    ops.run("ann_write")(tr.span("Similarity.write") {
      Similarity.deleteFromIvfPqIndexHier(spark, root, ids.toDF("vec_id"))
    })(_ => Nil)
    live --= ids
    deleted ++= ids
  }

  private def cosine(a: Array[Float], b: Array[Float]): Double = {
    var s = 0.0; var i = 0
    while (i < a.length) { s += a(i).toDouble * b(i); i += 1 }
    s
  }

  /** Recall@10 of the live index on the fixed probe set against brute
    * force over the live vectors. */
  def finish(): Seq[String] = {
    val ans = query(emb.probes)
    val errs = checkAnswer(emb.probes.size)(ans)
    val liveSeq = live.toSeq
    recall = emb.probes.indices.map { i =>
      val exact = liveSeq.sortBy { case (id, v) => (-cosine(emb.probes(i), v), id) }
        .take(K).map(_._1).toSet
      ans.getOrElse(-1L - i, Nil).count(exact).toDouble / K
    }.sum / emb.probes.size
    errs ++ (if (recall >= RecallFloor) Nil
      else Seq(f"recall@10 $recall%.3f is below the floor $RecallFloor"))
  }

  def named(recs: Seq[OpRec]): Seq[Named] = {
    val q = Workloads.latencies(recs, "ann_query")
    val w = Workloads.latencies(recs, "ann_write")
    val c = Workloads.latencies(recs, "ann_compact")
    Workloads.percentiles("ann_query", q, 1e3, "ms") ++
      (if (w.isEmpty) Nil else Seq(Named("ann_write_p50_ms", Stats.median(w) * 1e3, "ms", w.size))) ++
      (if (c.isEmpty) Nil else Seq(Named("ann_compact_s", Stats.median(c), "s", c.size))) :+
      Named("ann_recall_at_10", recall, "ratio", emb.probes.size)
  }
}

// ---------------------------------------------------------------------------

/** Corpus curation and ANN index maintenance as the batch job, live ANN
  * queries as the request loop; a set-up opens the corpus and refreshes
  * the index. */
final class CorpusAnnWorkload(ctx: Ctx) extends Workload {
  private val curation = new Curation(ctx.copy(inputs = s"${ctx.inputs}/corpus"))
  private val ann = new AnnLifecycle(ctx.copy(inputs = s"${ctx.inputs}/vectors"))

  def isRead(kind: String): Boolean = kind == "ann_query"
  def generate(): Map[String, Long] = curation.generate() ++ ann.generate()
  def setup(): Unit = { curation.setup(); ann.setup() }
  def batch(): Unit = { curation.batch(); ann.maintain() }
  def prepare(): Unit = ann.prepare()
  def step(client: Int): Unit = ann.step()
  def finish(): Seq[String] = ann.finish()
  def named(recs: Seq[OpRec], loopWall: Double): Seq[Named] =
    curation.named(recs) ++ ann.named(recs)
}
