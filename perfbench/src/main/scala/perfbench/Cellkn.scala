package perfbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Dereify, GraphBuilder, OntologyGraph, PathQueries, SearchIndex}
import graft.plans.{Pipelines, QueryCatalog}
import graft.sources.{GraphStore, OwlSource}
import graft.writers.{AnnotationWriter, AuthorToClWriter, ExternalApiWriter, NSForestWriter}

/** The Cell-KN chain over one generated release: ontology load, tuple
  * writers, results graph, phenotype subgraph. [[passUntraced]] composes
  * the engine the way a user does (through `Pipelines`); [[passTraced]]
  * makes the same calls one layer at a time, forcing each layer's output
  * inside its span so its Spark jobs are attributed to it. */
final class Cellkn(spark: SparkSession, rel: Gen.Release, out: String, tr: Tracer) {
  import Cellkn._

  private val ontStore = s"$out/ont"
  private val resStore = s"$out/res"

  /** The writers' input tables, read from the generated release. */
  def tables(): Map[String, DataFrame] = Map(
    "nsforest" -> spark.read.schema(Gen.NsforestSchema).json(rel.nsforest),
    "author" -> spark.read.schema(Gen.AuthorSchema).json(rel.author),
    "annotation" -> spark.read.schema(Gen.AnnotationSchema).json(rel.annotation),
    "mesh" -> spark.read.schema(Gen.MeshSchema).json(rel.mesh),
    "cellxgene" -> spark.read.schema(Gen.CellxgeneSchema).json(rel.cellxgene))

  /** Set-up of the ETL: clear earlier outputs and parse the RO
    * vocabulary the ontology load resolves predicates with. */
  def openRelease(): Int = {
    Seq(OntHops, ResHops).foreach { p =>
      spark.sql(s"DROP TABLE IF EXISTS ${p}_by_src")
      spark.sql(s"DROP TABLE IF EXISTS ${p}_by_dst")
    }
    SearchIndex.dropView(spark, View)
    Dereify.labels(OwlSource.readOwl(spark, rel.ro)).collect().length
  }

  /** All four writers' tuples as one (s, p, o, lit, ord) frame; each
    * writer's ordinal is offset so input order stays writer by writer. */
  def writerTuples(t: Map[String, DataFrame]): DataFrame =
    Seq(
      NSForestWriter.tuples(t("nsforest"), rel.nsforestDatasets),
      AuthorToClWriter.tuples(t("author"), rel.cxgForAuthor, rel.pmid),
      AnnotationWriter.tuples(t("annotation"), t("mesh")),
      ExternalApiWriter.cellxgene(t("cellxgene"))
    ).zipWithIndex.map { case (df, i) =>
      df.select(col("s"), col("p"), col("o"), col("lit"),
        (col("ord").cast("long") + lit(i.toLong << 40)).as("ord"))
    }.reduce(_ unionByName _)

  /** The stored ontology and results graphs as one topology. */
  def combined(): (DataFrame, DataFrame) = {
    def v(p: String) = GraphStore.readVertices(spark, s"$p/vertices")
      .select("collection", "key", "term")
    def e(p: String) = GraphStore.readEdges(spark, s"$p/edges")
      .select("from_coll", "from_key", "to_coll", "to_key", "label")
    (v(ontStore).unionByName(v(resStore)).dropDuplicates("collection", "key"),
      e(ontStore).unionByName(e(resStore))
        .dropDuplicates("from_coll", "from_key", "to_coll", "to_key"))
  }

  def runnable(vertices: DataFrame): Seq[QueryCatalog.PathQuery] = {
    val present = vertices.select("collection").distinct().collect()
      .map(_.getString(0)).toSet
    QueryCatalog.production.filter(q => (q.anchor +: q.hops).forall(present))
  }

  private val tuplesPath = s"$out/tuples"

  /** One ETL pass as a user composes it: load the ontology with its
    * store, hop tables and search view; write the writers' tuples (the
    * intermediate file of the reference chain); build and store the
    * results graph; materialize the phenotype subgraph over the combined
    * stored graph. The results build skips its own catalog run, which
    * the combined subgraph supersedes. */
  def passUntraced(): Long = {
    val load = Pipelines.loadOntology(spark, rel.owl, rel.ro,
      storePath = Some(ontStore), hopPrefix = Some(OntHops),
      searchView = Some(View), hopBuckets = Buckets)
    writerTuples(tables()).write.mode("overwrite").parquet(tuplesPath)
    Pipelines.buildResultsGraph(spark.read.parquet(tuplesPath),
      storePath = Some(resStore), hopPrefix = Some(ResHops),
      hopBuckets = Buckets, queries = Nil)
    phenotype()
    load.quarantined
  }

  /** The same pass, one span per layer, each layer's output forced. */
  def passTraced(): Long = {
    val (raw, roRaw) = tr.span("OwlSource.readOwl") {
      (OwlSource.readOwl(spark, rel.owl: _*).localCheckpoint(true),
        OwlSource.readOwl(spark, rel.ro).localCheckpoint(true))
    }
    val (triples, ro, quarantined) = tr.span("Dereify.dereify") {
      val ro = Dereify.labels(roRaw).collect()
        .map(r => (r.getString(0), r.getString(1))).toMap
      val (recon, ignored) = Dereify.dereify(raw)
      val q = ignored.count()
      (Dereify.fnodeTriples(raw).unionByName(recon.toDF()).localCheckpoint(true), ro, q)
    }
    val (v, e) = tr.span("OntologyGraph.build") {
      val (v, e) = OntologyGraph.build(triples, ro)
      (v.localCheckpoint(true), e.localCheckpoint(true))
    }
    tr.span("GraphStore.write") {
      GraphStore.writeVertices(v, s"$ontStore/vertices")
      GraphStore.writeEdges(e, s"$ontStore/edges")
      GraphStore.writeHopTables(e, Buckets, OntHops)
    }
    tr.span("SearchIndex.recreateView") {
      SearchIndex.recreateView(searchFrame(v), Seq("collection", "key"),
        Map("label" -> (c => SearchIndex.edgeNgramTokens(c))), View)
    }
    val tuples = tr.span("writers.tuples") {
      writerTuples(tables()).write.mode("overwrite").parquet(tuplesPath)
      spark.read.parquet(tuplesPath)
    }
    val (rv, re) = tr.span("GraphBuilder.build") {
      (GraphBuilder.vertices(tuples).localCheckpoint(true),
        GraphBuilder.edges(tuples).localCheckpoint(true))
    }
    tr.span("GraphStore.write") {
      GraphStore.writeVertices(rv, s"$resStore/vertices")
      GraphStore.writeEdges(re, s"$resStore/edges")
      GraphStore.writeHopTables(re, Buckets, ResHops)
    }
    phenotype()
    quarantined
  }

  /** The phenotype subgraph over the combined stored graph, for the
    * first [[PhenoQueries]] runnable catalog queries of at most two hops
    * without hierarchy tails: over the whole runnable catalog it costs
    * 15-25 s per pass in a fresh JVM, more than a run can spend. A
    * query's own cost is in the `PathQueries.kHop` requests. */
  private def phenotype(): Unit = tr.span("QueryCatalog.phenotypeSubgraph") {
    val (cv, ce) = combined()
    val qs = runnable(cv).filter(q => q.hops.size <= 2 && q.hierarchy.isEmpty)
      .take(PhenoQueries)
    val (sv, se) = QueryCatalog.phenotypeSubgraph(cv, ce, qs)
    sv.write.mode("overwrite").parquet(s"$out/pheno/vertices")
    se.write.mode("overwrite").parquet(s"$out/pheno/edges")
  }

  /** Output checks of one pass, read back from what the pass stored. */
  def checkPass(quarantined: Long): Seq[String] = {
    val x = rel.expect
    val bad = Seq.newBuilder[String]
    def expect(name: String, got: Long, want: Long): Unit =
      if (got != want) bad += s"$name: got $got, expected $want"
    val ontE = GraphStore.readEdges(spark, s"$ontStore/edges").count()
    expect("ontology vertices",
      GraphStore.readVertices(spark, s"$ontStore/vertices").count(), x.ontVertices)
    expect("ontology edges", ontE, x.ontEdges)
    expect("quarantined triples", quarantined, x.quarantined)
    expect("ontology hop table rows", spark.table(s"${OntHops}_by_src").count(), 2 * ontE)
    val byColl = GraphStore.readVertices(spark, s"$resStore/vertices")
      .groupBy("collection").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    x.results.foreach { case (c, n) => expect(s"results $c vertices", byColl.getOrElse(c, 0L), n) }
    if (GraphStore.readEdges(spark, s"$resStore/edges").count() == 0)
      bad += "results graph has no edges"
    if (spark.table(View).count() == 0) bad += "search view is empty"
    if (spark.read.parquet(s"$out/pheno/vertices").count() == 0)
      bad += "phenotype subgraph has no vertices"
    if (spark.read.parquet(s"$out/pheno/edges").count() == 0)
      bad += "phenotype subgraph has no edges"
    bad.result()
  }

  /** Per-run catalog check: a seeded sample of the runnable queries
    * returns paths (a query has paths exactly when its k-hop base has,
    * since a hierarchy tail only extends them); checking all of them
    * costs about 10 s a run. Returns the number of runnable queries. */
  def checkCatalog(seed: Long): (Int, Seq[String]) = {
    val (cv, ce) = combined()
    val qs = runnable(cv)
    val sample = new scala.util.Random(seed).shuffle(qs).take(CatalogSample)
    val counts = sample.zipWithIndex.map { case (q, i) =>
      PathQueries.kHop(cv, ce, q.anchor, q.hops).select(lit(i).as("q"))
    }.reduce(_ unionByName _).groupBy("q").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    (qs.size, sample.indices.filterNot(i => counts.getOrElse(i, 0L) > 0)
      .map(i => s"catalog query ${describe(sample(i))} returned no paths"))
  }
}

object Cellkn {
  val Buckets = 8
  val OntHops = "ont_hops"
  val ResHops = "res_hops"
  val View = "ont_search"
  val PhenoQueries = 1
  val CatalogSample = 2

  /** The search view's text: the term id plus every label value, as
    * `Pipelines.loadOntology` indexes it. */
  def searchFrame(vertices: DataFrame): DataFrame = {
    val labelValues = coalesce(col("attrs")("label").getField("values"),
      array().cast("array<string>"))
    vertices.withColumn("label", concat_ws(" ",
      concat_ws(" ", col("term")), concat_ws(" ", labelValues)))
  }

  def describe(q: QueryCatalog.PathQuery): String =
    (q.anchor +: q.hops).mkString("->") + q.hierarchy.fold("")(h => s" +${h._2}")

  /** An order-free digest of a result: row count and a hash of the
    * sorted row strings. */
  def canonical(rows: Array[Row]): (Int, Int) = {
    val s = rows.map(_.toString).sorted
    (s.length, scala.util.hashing.MurmurHash3.orderedHash(s.toSeq))
  }
}
