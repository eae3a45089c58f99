package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}

import scala.collection.immutable.ListMap
import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.json4s.DefaultFormats
import org.json4s.jackson.Serialization

/** Seeded generators for every benchmark input. The same seed gives the
  * same files; each generator also returns the closed-form counts the
  * output checks compare against. */
object Gen {

  val Obo = "http://purl.obolibrary.org/obo/"
  private val RdfNs = "http://www.w3.org/1999/02/22-rdf-syntax-ns#"
  private val RdfsNs = "http://www.w3.org/2000/01/rdf-schema#"
  private val OwlNs = "http://www.w3.org/2002/07/owl#"
  private val OboInOwl = "http://www.geneontology.org/formats/oboInOwl#"

  def term(prefix: String, i: Int): String = f"${prefix}_$i%07d"

  // ---------------------------------------------------------------------
  // Cell-KN release: ontology OWL files, an RO file and result tables
  // ---------------------------------------------------------------------

  /** Relations of the generated ontologies: RO-style id and label. */
  val Relations: Seq[(String, String)] = Seq(
    "BFO_0000050" -> "part of",
    "RO_0002215" -> "capable of",
    "RO_0002162" -> "in taxon",
    "RO_0000086" -> "has quality",
    "RO_0002200" -> "has phenotype",
    "RO_0004026" -> "disease has location",
    "RO_0002104" -> "has plasma membrane part",
    "RO_0002160" -> "only in taxon",
    "RO_0002202" -> "develops from")

  /** (prefix, classes at scale 1, restriction targets as (prefix, relation)).
    * Sizes are unequal like the real release; NCBITaxon holds the deep
    * chain the hierarchy walks climb. */
  val Ontologies: Seq[(String, Int, Seq[(String, String)])] = Seq(
    ("NCBITaxon", 420, Nil),
    ("GO", 300, Seq("NCBITaxon" -> "RO_0002160")),
    ("UBERON", 240, Seq("NCBITaxon" -> "RO_0002162", "PATO" -> "RO_0000086",
      "GO" -> "RO_0002215", "PR" -> "RO_0002104")),
    ("CL", 200, Seq("GO" -> "RO_0002215", "NCBITaxon" -> "RO_0002162",
      "UBERON" -> "BFO_0000050", "PATO" -> "RO_0000086", "PR" -> "RO_0002104")),
    ("MONDO", 180, Seq("HP" -> "RO_0002200", "UBERON" -> "RO_0004026",
      "NCBITaxon" -> "RO_0002162")),
    ("HP", 140, Seq("PATO" -> "RO_0000086")),
    ("PR", 100, Seq("NCBITaxon" -> "RO_0002160")),
    ("PATO", 60, Nil))

  /** Length of the NCBITaxon subClassOf chain (classes 0..DeepChain-1). */
  val DeepChain = 5

  private val Syllables = Seq("cardi", "neur", "lymph", "hepat", "nephr",
    "derm", "oste", "myel", "gli", "endo", "epi", "fibr", "chondr", "adip",
    "retin", "pulmo", "gastr", "thym", "splen", "vascul")

  private def word(r: java.util.Random): String =
    Syllables(r.nextInt(Syllables.size)) + Syllables(r.nextInt(Syllables.size)) +
      Seq("ocyte", "oblast", "al", "oid", "ic", "ase")(r.nextInt(6))

  final case class Release(owl: Seq[String], ro: String,
                           nsforest: String, author: String,
                           annotation: String, mesh: String,
                           cellxgene: String,
                           nsforestDatasets: Seq[String],
                           cxgForAuthor: Map[String, Map[String, String]],
                           pmid: Seq[(String, String)],
                           labels: Map[String, Seq[String]], // term -> words
                           ontEdges: Seq[(String, String, String)], // from, to, label
                           expect: ReleaseExpect)

  final case class ReleaseExpect(ontVertices: Long, ontEdges: Long,
                                 quarantined: Long, clusters: Int,
                                 results: Map[String, Long], // collection -> vertices
                                 deepWalks: Seq[(String, String, Int)])

  def release(dir: String, seed: Long): Release = {
    val r = new java.util.Random(seed)
    Files.createDirectories(Paths.get(dir))
    val sizes = Ontologies.map { case (p, n, _) => p -> n }.toMap
    var vertices = 0L
    var edges = 0L
    var quarantined = 0L
    val labels = mutable.LinkedHashMap.empty[String, Seq[String]]
    val ontEdges = mutable.ArrayBuffer.empty[(String, String, String)]
    val relLabel = Relations.toMap
    val owl = Ontologies.map { case (prefix, n, targets) =>
      val b = new StringBuilder
      b ++= s"""<?xml version="1.0"?>\n<rdf:RDF xmlns:rdf="$RdfNs" xmlns:rdfs="$RdfsNs" """
      b ++= s"""xmlns:owl="$OwlNs" xmlns:oboInOwl="$OboInOwl" xmlns:obo="$Obo">\n"""
      (0 until n).foreach { i =>
        val t = term(prefix, i)
        val words = Seq(word(r), word(r))
        labels(t) = words
        vertices += 1
        b ++= s"""<owl:Class rdf:about="$Obo$t">\n"""
        b ++= s"""  <rdfs:label>${words.mkString(" ")}</rdfs:label>\n"""
        b ++= s"""  <obo:IAO_0000115>definition of ${words.mkString(" ")}</obo:IAO_0000115>\n"""
        if (i > 0) {
          val parent =
            if (prefix == "NCBITaxon" && i < DeepChain) i - 1 else r.nextInt(i)
          b ++= s"""  <rdfs:subClassOf rdf:resource="$Obo${term(prefix, parent)}"/>\n"""
          ontEdges += ((t, term(prefix, parent), "subClassOf"))
          edges += 1
        }
        // one restriction for most classes, cycling through the target
        // ontologies; about one in twelve misses its filler and must be
        // quarantined by the de-reification
        if (targets.nonEmpty && r.nextInt(10) < 8) {
          val (tp, rel) = targets(i % targets.size)
          val tIdx =
            if (tp == "NCBITaxon" && prefix == "CL") r.nextInt(DeepChain)
            else r.nextInt(sizes(tp))
          b ++= "  <rdfs:subClassOf>\n    <owl:Restriction>\n"
          b ++= s"""      <owl:onProperty rdf:resource="$Obo$rel"/>\n"""
          if (r.nextInt(12) == 0) quarantined += 3 // subClassOf, onProperty, type
          else {
            b ++= s"""      <owl:someValuesFrom rdf:resource="$Obo${term(tp, tIdx)}"/>\n"""
            ontEdges += ((t, term(tp, tIdx), relLabel(rel)))
            edges += 1
            quarantined += 1 // the restriction's rdf:type triple
          }
          b ++= "    </owl:Restriction>\n  </rdfs:subClassOf>\n"
        }
        b ++= "</owl:Class>\n"
        if (r.nextInt(4) == 0) {
          // an annotated definition; its rdf:type triple is quarantined
          b ++= "<owl:Axiom>\n"
          b ++= s"""  <owl:annotatedSource rdf:resource="$Obo$t"/>\n"""
          b ++= s"""  <owl:annotatedProperty rdf:resource="${Obo}IAO_0000115"/>\n"""
          b ++= s"""  <owl:annotatedTarget>definition of ${words.mkString(" ")}</owl:annotatedTarget>\n"""
          b ++= s"""  <oboInOwl:hasDbXref>PMID:${1000000 + r.nextInt(9000000)}</oboInOwl:hasDbXref>\n"""
          b ++= "</owl:Axiom>\n"
          quarantined += 1
        }
      }
      b ++= "</rdf:RDF>\n"
      val path = s"$dir/${prefix.toLowerCase}.owl"
      Files.write(Paths.get(path), b.toString.getBytes(UTF_8))
      path
    }
    val ro = {
      val b = new StringBuilder
      b ++= s"""<?xml version="1.0"?>\n<rdf:RDF xmlns:rdf="$RdfNs" xmlns:rdfs="$RdfsNs" xmlns:owl="$OwlNs">\n"""
      (Relations :+ ("IAO_0000115" -> "definition")).foreach { case (id, label) =>
        b ++= s"""<owl:ObjectProperty rdf:about="$Obo$id">\n  <rdfs:label>$label</rdfs:label>\n</owl:ObjectProperty>\n"""
      }
      b ++= "</rdf:RDF>\n"
      val path = s"$dir/ro.owl"
      Files.write(Paths.get(path), b.toString.getBytes(UTF_8))
      path
    }

    // ---- result tables for the four tuple writers ----
    val nClusters = 36
    val genes = (0 until 30).map(i => f"G${i}%03dX")
    def uuid(): String = (0 until 12).map(_ => "abcdefghijklmnopqrstuvwxyz0123456789"(r.nextInt(36))).mkString
    def pyList(xs: Seq[String]) = xs.map(g => s"'$g'").mkString("[", ", ", "]")
    val clusters = (0 until nClusters).map { k =>
      val size = if (k % 9 == 8) 5L else 10L + r.nextInt(400) // some below 10
      val markers = r.ints(0, genes.size).distinct().limit(2 + r.nextInt(2)).toArray.toSeq.map(genes)
      val binary = Seq(genes(r.nextInt(genes.size)))
      (s"cluster $k", size, markers, binary, uuid())
    }
    val kept = clusters.filter(_._2 >= 10)
    val nsDatasets = Seq("dvN")
    val datasetIds = Seq("dvA", "dvB")
    val meshRows = (0 until 40).map(i => (f"MESH:D$i%06d", term("MONDO", r.nextInt(sizes("MONDO")))))
    val authorRows = clusters.map { case (name, size, markers, binary, id) =>
      (datasetIds.mkString("--"), 30000000L + seed % 1000, "PMC1", "10.1/x",
        "manual", "cortex cells", Obo + term("UBERON", r.nextInt(sizes("UBERON"))),
        Obo + term("CL", r.nextInt(sizes("CL"))), "skos:exact", name,
        s"author $name", size, pyList(markers), pyList(binary), id)
    }
    def curie(t: String) = t.replace('_', ':')
    val ann = (0 until 60).flatMap { i =>
      val g = genes(r.nextInt(genes.size))
      val ub = term("UBERON", r.nextInt(sizes("UBERON")))
      val (csName, _, _, _, csId) = kept(r.nextInt(kept.size))
      Seq(
        ("Gene", g, g, "GENETICALLY_ASSOCIATED_WITH", "Disease", "disease",
          meshRows(r.nextInt(meshRows.size))._1),
        ("Gene", g, g, "EXPRESSED_IN", "Anatomical_structure", "tissue", curie(ub)),
        ("Anatomical_structure", "tissue", curie(ub), "SOURCE_OF",
          "Cell_set_dataset", "dataset", s"NLP_dataset_${datasetIds(i % 2)}"),
        ("Cell_set", csName, csId, "CONTAINS", "Cell_type", "cell",
          curie(term("CL", r.nextInt(sizes("CL"))))))
    }
    val cxgRows = (datasetIds ++ nsDatasets).map { dv =>
      (s"https://doi.org/10.1/$dv", s"https://cxg.org/c/$dv",
        s"https://cxg.org/d/$dv", s"dataset $dv", 1000L + r.nextInt(100000),
        "Homo sapiens", "tissue", "normal", s"c-$dv", s"cv-$dv", s"d-$dv", dv,
        "TBC")
    }
    jsonLines(s"$dir/nsforest.json", NsforestSchema, clusters.map {
      case (name, size, markers, binary, id) =>
        (name, size, 0.5 + r.nextInt(50) / 100.0, 0.8, 10L, 2L, 3L, 40L,
          markers.size.toLong, pyList(markers), pyList(binary), id,
          0.1 + r.nextInt(80) / 100.0)
    })
    jsonLines(s"$dir/author_to_cl.json", AuthorSchema, authorRows)
    // NLP annotations: gene -> disease (MeSH ids resolved through the
    // mesh map), gene -> anatomy, anatomy -> dataset, cell set -> cell type
    jsonLines(s"$dir/mesh2mondo.json", MeshSchema, meshRows)
    jsonLines(s"$dir/annotation.json", AnnotationSchema, ann)
    jsonLines(s"$dir/cellxgene.json", CellxgeneSchema, cxgRows)
    val cxgForAuthor = cxgRows.map(c => c._12 -> Map(
      "Link_to_publication" -> c._1, "Link_to_CELLxGENE_collection" -> c._2,
      "Link_to_CELLxGENE_dataset" -> c._3, "Dataset_name" -> c._4)).toMap

    // closed-form deep walk: every CL -> NCBITaxon_t edge is a base path
    // (CL key, taxon key) that climbs the chain t levels to its root, so
    // the path holds 2 + t vertices
    val deepWalks = ontEdges.collect { case (f, t, _)
        if f.startsWith("CL_") && t.startsWith("NCBITaxon_") =>
      (f.stripPrefix("CL_"), t.stripPrefix("NCBITaxon_"),
        2 + t.stripPrefix("NCBITaxon_").toInt)
    }.toSeq.sorted

    // closed-form result-graph census: one cell set, marker combination
    // and gene set per cluster of at least ten cells, one dataset vertex
    // per dataset id (the NSForest, author and NLP datasets)
    val results = Map(
      "CS" -> kept.size.toLong, "BMC" -> kept.size.toLong,
      "BGS" -> kept.size.toLong,
      "CSD" -> (datasetIds ++ nsDatasets).distinct.size.toLong)
    Release(owl, ro, s"$dir/nsforest.json", s"$dir/author_to_cl.json",
      s"$dir/annotation.json", s"$dir/mesh2mondo.json", s"$dir/cellxgene.json",
      nsDatasets, cxgForAuthor, Seq("Citation" -> s"Doe ${2000 + seed % 20}"),
      labels.toMap, ontEdges.toSeq,
      ReleaseExpect(vertices, edges, quarantined, kept.size, results, deepWalks))
  }

  // Result tables are JSON lines, as the reference's result files are
  // JSON/CSV; each is read with its schema.
  val NsforestSchema = "clusterName string, clusterSize long, f_score double, " +
    "precision double, TN long, FP long, FN long, TP long, marker_count long, " +
    "NSForest_markers string, binary_genes string, uuid string, median_silhouette double"
  val AuthorSchema = "dataset_version_id string, PMID long, PMCID string, DOI string, " +
    "mapping_method string, author_category string, uberon_entity_id string, " +
    "cell_ontology_id string, match string, author_cell_set string, " +
    "author_cell_term string, clusterSize long, NSForest_markers string, " +
    "binary_genes string, uuid string"
  val MeshSchema = "mesh string, mondo string"
  val VectorSchema = "vec_id long, embedding array<float>"
  val AnnotationSchema = "subject_type string, subject_name string, " +
    "subject_identifier string, relation string, object_type string, " +
    "object_name string, object_identifier string"
  val CellxgeneSchema = "Link_to_publication string, Link_to_CELLxGENE_collection string, " +
    "Link_to_CELLxGENE_dataset string, Dataset_name string, Number_of_cells long, " +
    "Organism string, Tissue string, Disease_status string, Collection_ID string, " +
    "Collection_version_ID string, Dataset_ID string, Dataset_version_ID string, " +
    "`Zenodo/Nextflow_workflow/Notebook` string"

  /** Write tuples as JSON lines with the schema's column names. */
  private def jsonLines(path: String, schema: String, rows: Seq[Product]): Unit = {
    val cols = schema.split(",\\s*").map(_.trim.split(" ")(0).stripPrefix("`").stripSuffix("`"))
    val text = rows.map { r =>
      Serialization.write(ListMap(cols.toSeq.zip(r.productIterator.toSeq): _*))(DefaultFormats)
    }.mkString("", "\n", "\n")
    Files.write(Paths.get(path), text.getBytes(UTF_8))
  }

  // ---------------------------------------------------------------------
  // Training corpus with planted duplicates and contamination
  // ---------------------------------------------------------------------

  final case class Corpus(docs: String, bench: String, expect: Map[String, Long])

  /** Zipf-distributed documents (one parquet file, one row group) plus an
    * evaluation set whose 5-grams are planted into some documents. */
  def corpus(spark: SparkSession, dir: String, seed: Long, nBase: Int = 1800): Corpus = {
    import spark.implicits._
    val r = new java.util.Random(seed)
    val vocab = 20000
    val cdf = {
      val w = (1 to vocab).map(k => 1.0 / math.pow(k, 1.0))
      val s = w.sum
      w.scanLeft(0.0)(_ + _ / s).tail.toArray
    }
    def zipfWord(): String = {
      val u = r.nextDouble()
      var i = java.util.Arrays.binarySearch(cdf, u)
      if (i < 0) i = -i - 1
      s"w${i.min(vocab - 1)}"
    }
    def doc(len: Int): Array[String] = Array.fill(len)(zipfWord())
    // evaluation documents use their own vocabulary, so only planted
    // documents can share a 5-gram with them
    val bench = (0 until 40).map(j => (j.toLong,
      (0 until 30).map(t => s"eval${j}t$t").mkString(" ")))
    var next = 0L
    val out = mutable.ArrayBuffer.empty[(Long, String)]
    def add(text: String): Long = { next += 1; out += ((next, text)); next }
    val base = (0 until nBase).map(_ => doc(30 + r.nextInt(50)))
    val nShort = nBase / 20
    val nExact = nBase / 25
    val nNear = nBase / 25
    val nContam = nBase / 30
    // the planted roles use disjoint base documents
    val roles = scala.util.Random.javaRandomToRandom(r).shuffle((0 until nBase).toList)
    val exactSrc = roles.take(nExact).toSet
    val nearSrc = roles.slice(nExact, nExact + nNear).toSet
    val contam = roles.slice(nExact + nNear, nExact + nNear + nContam).toSet
    val texts = base.zipWithIndex.map { case (words, i) =>
      if (contam(i)) {
        val b = bench(r.nextInt(bench.size))._2.split(" ")
        val at = r.nextInt(b.length - 5)
        val pos = r.nextInt(words.length)
        (words.take(pos) ++ b.slice(at, at + 5) ++ words.drop(pos)).mkString(" ")
      } else words.mkString(" ")
    }
    texts.foreach(add)
    (0 until nShort).foreach(_ => add(doc(5 + r.nextInt(10)).mkString(" ")))
    var exactCopies = 0
    texts.indices.filter(exactSrc).foreach { i =>
      (0 to r.nextInt(2)).foreach { _ => add(texts(i)); exactCopies += 1 }
    }
    texts.indices.filter(nearSrc).foreach { i =>
      val w = base(i).clone()
      w(r.nextInt(w.length)) = s"edit${i}a"
      w(r.nextInt(w.length)) = s"edit${i}b"
      add(w.mkString(" "))
    }
    val total = out.size.toLong
    val quality = total - nShort
    val exact = quality - exactCopies
    val near = exact - nNear
    val decontam = near - nContam
    // the split label is the first hex digit of md5(text): 0-c train,
    // d-e val, f test
    val md5 = java.security.MessageDigest.getInstance("MD5")
    val splits = texts.indices.filterNot(contam).map { i =>
      val h = md5.digest(texts(i).getBytes(UTF_8))
      val nib = (h(0) >> 4) & 0xf
      if (nib <= 12) "train" else if (nib <= 14) "val" else "test"
    }.groupBy(identity).map { case (k, v) => s"5_split_$k" -> v.size.toLong }
    Files.createDirectories(Paths.get(dir))
    out.toSeq.toDF("doc_id", "text").coalesce(1).write.parquet(s"$dir/docs")
    bench.toDF("doc_id", "text").coalesce(1).write.parquet(s"$dir/bench")
    Corpus(s"$dir/docs", s"$dir/bench", Map("0_input" -> total,
      "1_quality" -> quality, "2_exact" -> exact, "3_neardup" -> near,
      "4_decontam" -> decontam) ++ splits)
  }

  // ---------------------------------------------------------------------
  // Clustered embeddings for the ANN lifecycle
  // ---------------------------------------------------------------------

  /** Per-vector noise around a center (norm ~ Noise): small against the
    * distance between centers, so a probe's ten nearest neighbours are
    * the members of its cluster. */
  private val Noise = 0.1f

  final case class Embeddings(path: String, dim: Int,
                              base: Map[Long, Array[Float]],
                              probes: Seq[Array[Float]],
                              centers: Seq[Array[Float]])

  def embeddings(dir: String, seed: Long, n: Int = 1600, dim: Int = 64,
                 clusters: Int = 160): Embeddings = {
    val r = new java.util.Random(seed)
    def unit(v: Array[Float]): Array[Float] = {
      val norm = math.sqrt(v.map(x => x.toDouble * x).sum).toFloat
      v.map(_ / norm)
    }
    val centers = (0 until clusters).map(_ => unit(Array.fill(dim)(r.nextGaussian().toFloat)))
    val base = (0 until n).map { i =>
      val c = centers(r.nextInt(clusters))
      i.toLong -> unit(c.map(x => x + Noise * r.nextGaussian().toFloat / math.sqrt(dim).toFloat))
    }
    val probes = (0 until 32).map { _ =>
      val c = centers(r.nextInt(clusters))
      unit(c.map(x => x + Noise * r.nextGaussian().toFloat / math.sqrt(dim).toFloat))
    }
    Files.createDirectories(Paths.get(dir))
    Files.write(Paths.get(s"$dir/vectors.json"), base.map { case (id, v) =>
      s"""{"vec_id":$id,"embedding":[${v.mkString(",")}]}"""
    }.mkString("", "\n", "\n").getBytes(UTF_8))
    Embeddings(s"$dir/vectors.json", dim, base.toMap, probes, centers)
  }

  /** A new vector near a random cluster center. */
  def nearCenter(r: java.util.Random, e: Embeddings): Array[Float] = {
    val c = e.centers(r.nextInt(e.centers.size))
    val v = c.map(x => x + Noise * r.nextGaussian().toFloat / math.sqrt(e.dim).toFloat)
    val norm = math.sqrt(v.map(x => x.toDouble * x).sum).toFloat
    v.map(_ / norm)
  }

  // ---------------------------------------------------------------------

  /** Total bytes and a SHA-256 digest over the generated files, in path
    * order, with Spark's random part-file ids stripped from the names. */
  def digest(dir: String): (Long, String) = {
    val root = Paths.get(dir)
    val files = {
      val s = Files.walk(root)
      try s.filter(p => Files.isRegularFile(p)).toArray.toSeq.map(_.asInstanceOf[Path])
      finally s.close()
    }.filterNot { p =>
      val n = p.getFileName.toString
      n.endsWith(".crc") || n == "_SUCCESS"
    }.map { p =>
      root.relativize(p).toString
        .replaceAll("part-(\\d+)-[0-9a-f-]{36}", "part-$1") -> p
    }.sortBy(_._1)
    val md = java.security.MessageDigest.getInstance("SHA-256")
    var bytes = 0L
    files.foreach { case (name, p) =>
      val b = Files.readAllBytes(p)
      bytes += b.length
      md.update(name.getBytes(UTF_8))
      md.update(b)
    }
    (bytes, md.digest().map(x => f"${x & 0xff}%02x").mkString)
  }
}
