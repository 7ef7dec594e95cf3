package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

import graft.{Artifacts, Caching, SparkEntry}
import graft.pipeline.FullAnalysisMain

/** The benchmark's JVM side. One process runs one workload and writes its
  * raw observations to `<work>/raw.json`; `perfbench/run.py` checks the
  * outputs and turns the observations into metrics.
  *
  *   perfbench.Main --workload W --data DIR --work DIR --seconds S
  *                  --seed N --trace 0|1 --cpus N --mix f1,f2,... --topics K
  *                  --warm-passes P
  *
  * Workloads: `topic_report` (one EP2 report) and `face_mix` (a cold pass
  * over a list of faces, then warm passes).
  */
object Main {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  private def cpuSeconds: Double = os.getProcessCpuTime / 1e9

  /** Heap the program still holds after a full collection, in MB: its
    * caches and registries, without the garbage the collector has not
    * reached yet (which makes the resident-set peak swing by a quarter
    * between identical runs).
    */
  private def retainedHeapMb: Double = {
    // the second collection frees what Spark's ContextCleaner released
    // (broadcasts, shuffles) after the first one made it unreachable
    System.gc()
    Thread.sleep(500)
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  /** Peak resident set of this process (VmHWM), in MB. */
  private def peakRssMb: Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .collectFirst { case l if l.startsWith("VmHWM:") =>
        l.split("\\s+")(1).toDouble / 1024 }
      .getOrElse(0.0)

  def main(args: Array[String]): Unit = {
    val o = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = o("workload")
    val data = o("data")
    val work = o("work")
    val seconds = o("seconds").toDouble
    val seed = o("seed").toLong
    val trace = o("trace") == "1"
    val cpus = o("cpus").toInt
    val faces = o.get("mix").toSeq.flatMap(_.split(",")).filter(_.nonEmpty)
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime

    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1).count()
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1e3

    // a fresh process must start with empty registries: a hit or a miss
    // here would mean "cold" is not cold
    val pre = Caching.registryStatsSnapshot()
    require(pre.forall { case (_, h, m, _) => h == 0 && m == 0 },
      s"registries not empty at process start: $pre")

    val tracer = if (trace) Some(new Tracer(spark)) else None
    val out = scala.collection.mutable.LinkedHashMap[String, Any](
      "workload" -> workload, "setup_s" -> setupS,
      "fingerprint" -> Map(
        "cpus" -> cpus,
        "heap_mb" -> Runtime.getRuntime.maxMemory / (1 << 20),
        "jvm" -> s"${sys.props("java.vm.name")} ${sys.props("java.version")}",
        "spark" -> spark.version,
        "scala" -> scala.util.Properties.versionNumberString))
    try {
      workload match {
        case "topic_report" =>
          out ++= topicReport(spark, data, work, o("topics").toInt, tracer)
        case "face_mix" =>
          out ++= faceMix(spark, data, work, seconds, o("warm-passes").toInt, seed,
            faces, tracer)
        case other => throw new IllegalArgumentException(s"unknown workload $other")
      }
      out("registries") = registries(Caching.registryStatsSnapshot())
      tracer.foreach { t =>
        out("trace") = t.report
        val (k, checksum) = Kernels.run(spark, data, 0.3)
        out("kernels") = k
        out("kernel_checksum") = checksum
        println(s"[perfbench] kernel checksum $checksum")
      }
      out("peak_rss_mb") = peakRssMb
    } finally spark.stop()
    Files.write(Paths.get(s"$work/raw.json"),
      Json.write(out.toMap).getBytes(StandardCharsets.UTF_8))
  }

  private def registries(s: Seq[(String, Long, Long, Long)]): Seq[Map[String, Any]] = s.map {
    case (n, h, m, e) => Map("name" -> n, "hits" -> h, "misses" -> m, "evictions" -> e)
  }

  /** Runs `body` once and records its wall and process CPU seconds. */
  private def unit(extra: Map[String, Any])(body: => Unit): Map[String, Any] = {
    val c0 = cpuSeconds
    val t0 = System.nanoTime()
    body
    extra ++ Map("wall_s" -> (System.nanoTime() - t0) / 1e9, "cpu_s" -> (cpuSeconds - c0))
  }

  /** One `FullAnalysisMain.run` in this fresh process. A traced run makes
    * the same call under the stack sampler, which splits its time into the
    * report's parts, then one more untraced and one more traced report to
    * price the tracing itself.
    */
  private def topicReport(spark: SparkSession, data: String, work: String,
                          topics: Int, tracer: Option[Tracer]): Map[String, Any] = {
    val splits = scala.collection.mutable.LinkedHashMap.empty[String, Map[String, Double]]
    def report(i: Int, label: Option[String]): Map[String, Any] = {
      val dir = s"$work/report/$i"
      def job() = FullAnalysisMain.run(spark, data, "text", dir, topics)
      var halves = (false, false)
      val u = unit(Map("traced" -> label.isDefined)) {
        halves = (tracer, label) match {
          case (Some(t), Some(l)) => t.traced(l)(t.span("report") {
            val (r, split) = new Sampler(Sampler.report).run(job())
            splits(l) = split
            r
          })
          case _ => job()
        }
      }
      u ++ Map("halves_ok" -> Seq(halves._1, halves._2),
        "report_mb" -> dirBytes(new java.io.File(dir)) / 1e6,
        "sheets" -> sheetRows(spark, dir))
    }
    val first = report(0, tracer.map(_ => "cold"))
    val measured = Map("units" -> Seq(first), "retained_heap_mb" -> retainedHeapMb)
    tracer.fold(measured) { _ =>
      val overhead = Seq(report(1, None), report(2, Some("warm")))
      measured ++ Map("pipeline" -> splits("cold"), "pipeline_by_phase" -> splits.toMap,
        "overhead_units" -> overhead)
    }
  }

  /** Every sheet and file of a report under `dir`, with the row count of
    * the two sheets the check reads: the LDA summary and topics.
    */
  private def sheetRows(spark: SparkSession, dir: String): Map[String, Any] = {
    def list(f: java.io.File) = Option(f.listFiles()).getOrElse(Array.empty[java.io.File]).toSeq
    list(new java.io.File(dir)).filter(_.isDirectory).flatMap { half =>
      list(half).map { f =>
        val key = s"${half.getName}/${f.getName}"
        key -> (key match {
          case "lda/summary" =>
            Map("n_docs" -> spark.read.parquet(f.getPath).select("n_docs").head().getLong(0))
          case "lda/topics" => Map("rows" -> spark.read.parquet(f.getPath).count())
          case _ => Map("complete" -> (f.isFile || new java.io.File(f, "_SUCCESS").isFile))
        })
      }
    }.toMap
  }

  private def dirBytes(f: java.io.File): Long =
    if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).map(dirBytes).sum
    else f.length()

  /** One fresh process: a cold pass over the mix, then `warmPasses` warm
    * passes in a seeded-shuffle order, and more until `seconds` have passed
    * since the cold pass began (a traced run alternates untraced and traced
    * warm passes). Each face's output is then written once, outside the
    * clocks, for the oracle compare.
    */
  private def faceMix(spark: SparkSession, data: String, work: String,
                      seconds: Double, warmPasses: Int, seed: Long, faces: Seq[String],
                      tracer: Option[Tracer]): Map[String, Any] = {
    val queries = SparkEntry.queries
    val unknown = faces.filterNot(queries.contains)
    require(unknown.isEmpty, s"unknown faces: ${unknown.mkString(",")}")
    // model-artifact exports on from the start, as in graft.Verify: some
    // oracles re-derive their rows from the persisted fits
    Artifacts.enable(s"$work/artifacts")
    def noop(face: String): Unit =
      try Caching.scoped {
        queries(face)(spark, data).write.format("noop").mode("overwrite").save()
      } finally Caching.releaseAll()
    def pass(p: Int, order: Seq[String], label: Option[String]): (Map[String, Any], Seq[Outcome]) = {
      var os = Seq.empty[Outcome]
      val u = unit(Map("traced" -> label.isDefined)) {
        os = (tracer, label) match {
          case (Some(t), Some(l)) => t.traced(l)(Mix.pass(order, p)(f => t.span(f)(noop(f))))
          case _ => Mix.pass(order, p)(noop)
        }
      }
      (u, os)
    }

    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    val (coldUnit, cold) = pass(0, faces, tracer.map(_ => "cold"))
    val afterCold = Caching.registryStatsSnapshot()
    val cachedMb = spark.sparkContext.getRDDStorageInfo.map(_.memSize).sum / 1e6
    // after the cold pass, not the warm ones: Spark's status store keeps a
    // record per query run, so the heap would grow with the pass count
    val retained = retainedHeapMb
    val warm = scala.collection.mutable.ArrayBuffer.empty[(Map[String, Any], Seq[Outcome])]
    // the unit of work is the cold pass plus the first `warmPasses` warm
    // ones; a pass beyond them adds latency samples, never unit time
    while (warm.size < warmPasses || System.nanoTime() < deadline) {
      val p = warm.size + 1
      // the previous pass's garbage is collected off the clock
      System.gc()
      warm += pass(p, Mix.order(faces, seed, p), tracer.filter(_ => p % 2 == 0).map(_ => "warm"))
    }

    // outputs for the oracle compare, written after the clocks stop
    val checkDir = s"$work/check"
    val written = faces.filter { face =>
      try {
        Caching.scoped {
          queries(face)(spark, data).coalesce(1).write.mode("overwrite")
            .parquet(s"$checkDir/$face")
        }
        true
      } catch { case NonFatal(e) =>
        System.err.println(s"[perfbench] $face output failed: $e"); false
      } finally Caching.releaseAll()
    }
    val oracle = SparkEntry.oracleSql
    Files.write(Paths.get(s"$checkDir/oracle_sql.json"),
      Json.write(written.flatMap(f => oracle.get(f).map(f -> _)).toMap)
        .getBytes(StandardCharsets.UTF_8))

    Map("cold_unit" -> coldUnit, "cold" -> cold,
      "units" -> warm.map(_._1).toSeq, "outcomes" -> warm.flatMap(_._2).toSeq,
      "registries_after_cold" -> registries(afterCold),
      "cached_mb_after_cold" -> cachedMb, "retained_heap_mb" -> retained,
      "check_dir" -> checkDir)
  }
}
