package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.collection.immutable.ListMap

import org.apache.spark.sql.SparkSession
import org.json4s.DefaultFormats
import org.json4s.jackson.Serialization

/** One benchmark run of one workload in a fresh JVM:
  *
  * {{{
  * Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *      --work <dir> --cores <n> --out <result.json> [--trace-out <trace.json>]
  * }}}
  *
  * A run generates the inputs, sets up [[Setups]] times, then runs the
  * workload's batch job once and its request loop for `--seconds`.
  * Untraced (`--trace 0`) it measures the end-to-end metrics; traced, the
  * per-layer metrics. The result goes to `--out`; the caller prints it. */
object Main {

  /** Set-ups per run; `setup_s` is their median. */
  val Setups = 3

  val LayerSpans: Seq[String] = Seq(
    "OwlSource.readOwl", "Dereify.dereify", "OntologyGraph.build",
    "writers.tuples", "GraphBuilder.build", "GraphStore.write",
    "SearchIndex.recreateView", "QueryCatalog.phenotypeSubgraph",
    "PathQueries.kHop", "PathQueries.hierarchy", "SearchIndex.search",
    "QueryCatalog.rankRelatedEntities",
    "Pipelines.filterStages", "Dedup.nearDup", "Corpus.decontaminate",
    "Corpus.cooccurrenceCounts",
    "Similarity.query", "Similarity.write", "Similarity.compact")

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = args("workload")
    require(Workloads.names.contains(workload), s"unknown workload $workload")
    val seed = args("seed").toLong
    val seconds = args("seconds").toDouble
    val trace = args("trace") == "1"
    val cores = args("cores").toInt
    val work = args("work")

    val selfCheck = Stats.selfCheck()
    require(selfCheck.isEmpty, s"benchmark arithmetic self-check failed: $selfCheck")

    val t0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark.sparkContext.setCheckpointDir(s"$work/checkpoints")
    val sessionS = (System.nanoTime() - t0) / 1e9

    try {
      val tr = new Tracer(spark.sparkContext, trace, cores)
      val ops = new Ops(tr)
      val ctx = Ctx(spark, tr, ops, seed, s"$work/inputs", s"$work/out")
      val w = Workloads(workload, ctx)

      tr.active = false
      val tg = System.nanoTime()
      val sizes = w.generate()
      val genS = (System.nanoTime() - tg) / 1e9
      val (inputBytes, digest) = Gen.digest(ctx.inputs)

      tr.active = trace
      val setupTimes = (1 to Setups).map { i =>
        val ts = System.nanoTime()
        tr.op("setup", -i)(w.setup())
        (System.nanoTime() - ts) / 1e9
      }
      tr.active = false
      ctx.releaseAll()

      val gc0 = gcSeconds()
      tr.active = trace
      w.batch()
      tr.active = false
      val tp = System.nanoTime()
      w.prepare()
      val prepareS = (System.nanoTime() - tp) / 1e9
      tr.active = trace
      ops.inLoop = true
      val loopWall = ops.closedLoop(seconds, w.clients)(w.step)
      ops.inLoop = false
      tr.active = false
      val gcS = gcSeconds() - gc0
      val tf = System.nanoTime()
      val runChecks = w.finish()
      val finishS = (System.nanoTime() - tf) / 1e9

      val recs = ops.all
      val failed = recs.filter(_.failure.nonEmpty)
      val correct = failed.isEmpty && runChecks.isEmpty
      val named = w.named(recs, loopWall)
      def lat(rs: Seq[OpRec]) = rs.map(r => if (r.failure.isEmpty) r.seconds else Double.PositiveInfinity)
      val batchLat = lat(recs.filterNot(_.loop))
      val requests = lat(recs.filter(r => r.loop && w.isRead(r.kind)))
      require(batchLat.nonEmpty && requests.nonEmpty, s"no batch job or no read request in $seconds s")

      val metrics: ListMap[String, (Double, String)] =
        if (!trace) ListMap(
          "setup_s" -> (Stats.median(setupTimes), "s"),
          "batch_s" -> (batchLat.sum, "s"),
          "request_p50_ms" -> (Stats.median(requests) * 1e3, "ms"))
        else {
          val stats = tr.layerStats()
          val layers = LayerSpans.flatMap { s =>
            val st = stats.get(s)
            Seq(
              s"$s.wall_s" -> (st.map(_.wallS).getOrElse(0.0), "s"),
              s"$s.driver_only_s" -> (st.map(_.driverOnlyS).getOrElse(0.0), "s"),
              s"$s.jobs" -> (st.map(_.jobs).getOrElse(0.0), "count"),
              s"$s.cores_busy" -> (st.map(_.coresBusy).getOrElse(0.0), "ratio"),
              s"$s.max_task_share" -> (st.map(_.maxTaskShare).getOrElse(0.0), "ratio"),
              s"$s.shuffle_mb" -> (st.map(_.shuffleMb).getOrElse(0.0), "MB"))
          }
          val l = tr.listener.get
          ListMap(layers: _*) ++ ListMap(
            "spark.task_failures" -> (l.taskFailures.toDouble, "count"),
            "spark.stage_retries" -> (l.stageRetries.toDouble, "count"),
            "gc_s" -> (gcS, "s"),
            // VmHWM varies by more than a tenth between runs under a fixed
            // -Xmx, so it is a per-layer figure, not an end-to-end one
            "peak_rss_mb" -> (peakRssMb(), "MB"))
        }

      args.get("trace-out").foreach { p =>
        Files.write(Paths.get(p), Serialization.write(tr.dump())(DefaultFormats).getBytes(UTF_8))
      }
      def counts(f: OpRec => Boolean) = recs.filter(f).groupBy(_.kind).map { case (k, v) => k -> v.size }
      val result = ListMap(
        "workload" -> workload, "seed" -> seed, "seconds" -> seconds,
        "trace" -> trace, "cores" -> cores,
        "max_heap_mb" -> Runtime.getRuntime.maxMemory / (1 << 20),
        "inputs" -> (sizes ++ Map("bytes" -> inputBytes)), "input_digest" -> digest,
        "session_s" -> sessionS, "generate_s" -> genS, "setup_s_each" -> setupTimes,
        "batch_s" -> batchLat.sum, "peak_rss_mb" -> peakRssMb(), "prepare_s" -> prepareS, "loop_s" -> loopWall,
        "request_samples" -> requests.size,
        "requests_per_s" -> recs.count(r => r.loop && r.failure.isEmpty) / loopWall, "op_checks_s" -> ops.checkSeconds,
        "run_checks_s" -> finishS,
        "attempted" -> recs.size, "failed" -> failed.size,
        "failed_exception" -> failed.count(_.failure == "exception"),
        "failed_check" -> failed.count(_.failure == "check"),
        "attempted_by_kind" -> counts(_ => true),
        "failed_by_kind" -> counts(_.failure.nonEmpty),
        "failures" -> failed.take(5).map(f => s"${f.kind} (${f.failure}): ${f.detail}"),
        "run_checks" -> runChecks, "correct" -> correct,
        "metrics" -> metrics.map { case (k, (v, u)) => k -> ListMap("value" -> v, "unit" -> u) },
        "named" -> ListMap(named.map(n =>
          n.name -> ListMap("value" -> n.value, "unit" -> n.unit, "samples" -> n.samples)): _*))
      Files.write(Paths.get(args("out")), Serialization.write(result)(DefaultFormats).getBytes(UTF_8))
    } finally spark.stop()
  }

  private def gcSeconds(): Double = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum / 1e3
  }

  /** Peak resident set (VmHWM) of this JVM. */
  private def peakRssMb(): Double = {
    import scala.jdk.CollectionConverters._
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024)
      .getOrElse(Double.NaN)
  }
}
