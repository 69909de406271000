package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.collection.immutable.{ListMap, TreeMap}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** What one run hands back to [[Harness]] for printing. `endToEnd` is always
  * measured (a traced run's copy feeds the tracing-overhead figures);
  * `perLayer` only on traced runs. `absent` names the per-layer metrics the
  * workload does not exercise, with the reason; they print as 0.
  */
final case class RunResult(
    attempted: Int,
    failed: Int,
    checks: Seq[String],
    endToEnd: Map[String, Double],
    perLayer: Map[String, Double],
    absent: Map[String, String],
    facts: ListMap[String, Any])

/** Everything a workload needs from the harness. */
final case class Ctx(
    spark: SparkSession,
    seed: Long,
    size: String,
    cores: Int,
    root: String,
    sessionS: Double,
    tracer: Option[Tracer],
    digests: DigestStore) {
  def tiny: Boolean = size == "tiny"
  def traced: Boolean = tracer.isDefined

  /** Run one op: a span on traced runs, plain otherwise. */
  def op[T](name: String)(body: => T): T = tracer match {
    case Some(t) => t.op(name)(body)
    case None => body
  }
}

/** Heap the workload leaves resident once its measured ops are done: used
  * heap after full collections. Two collections 0.3 s apart, so Spark's
  * ContextCleaner can drop the blocks of dead broadcasts, shuffles and cached
  * plans between them. Natural full GCs are not sampled: when one happens
  * (metaspace growth from codegen triggers them) varies run to run, and so
  * did the live heap it saw.
  */
object RetainedHeap {
  def mb(): Double = {
    for (_ <- 1 to 2) { System.gc(); Thread.sleep(300) }
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1e6
  }
}

/** Recorded output digests: a flat string map in a JSON file. `perfbench/
  * digests.json` holds the values recorded for the default seed; a cache in
  * the run-state directory holds what earlier runs of this checkout saw for
  * other seeds, so a traced and an untraced run of one seed are held to the
  * same outputs.
  */
final class DigestStore(recordedFile: Path, cacheFile: Path, record: Boolean) {
  private def load(p: Path): Map[String, String] =
    if (!Files.exists(p)) Map.empty
    else Json.mapper.readValue(p.toFile, classOf[java.util.Map[String, String]]).asScala.toMap

  private val recorded = load(recordedFile)
  private val cache = scala.collection.mutable.Map.empty[String, String] ++= load(cacheFile)
  private val fresh = scala.collection.mutable.LinkedHashMap.empty[String, String]

  /** Compare `value` under `key`; None = match or nothing to compare with,
    * Some(message) = mismatch. Unknown keys are remembered for later runs. */
  def check(key: String, value: String): Option[String] = {
    fresh(key) = value
    recorded.get(key).orElse(cache.get(key)) match {
      case Some(v) if v != value && !record => Some(s"$key: expected $v, got $value")
      case _ => None
    }
  }

  def source(key: String): String =
    if (recorded.contains(key)) "recorded" else if (cache.contains(key)) "earlier-run" else "first-run"

  private def write(p: Path, m: Map[String, String]): Unit = {
    Files.createDirectories(p.getParent)
    val body = Json.mapper.writerWithDefaultPrettyPrinter().writeValueAsString(TreeMap(m.toSeq: _*))
    val tmp = Files.createTempFile(p.getParent, p.getFileName.toString, ".tmp")
    Files.write(tmp, (body + "\n").getBytes(StandardCharsets.UTF_8))
    Files.move(tmp, p, StandardCopyOption.REPLACE_EXISTING, StandardCopyOption.ATOMIC_MOVE)
  }

  /** Persist what this run saw: into the recorded file in record mode,
    * otherwise into the cache (never overwriting an earlier value). */
  def save(): Unit =
    if (record) write(recordedFile, recorded ++ fresh)
    else write(cacheFile, (fresh ++ cache).toMap)
}

object Harness {

  final case class Opts(
      workload: String = "",
      seed: Long = 42L,
      trace: Boolean = false,
      size: String = "default",
      cores: Int = 0,
      stateDir: String = "",
      root: String = "",
      build: String = "",
      record: Boolean = false)

  def parse(args: Array[String]): Opts = args.toSeq.grouped(2).foldLeft(Opts()) {
    case (o, Seq("--workload", v)) => o.copy(workload = v)
    case (o, Seq("--seed", v)) => o.copy(seed = v.toLong)
    case (o, Seq("--trace", v)) => o.copy(trace = v == "1")
    case (o, Seq("--size", v)) => o.copy(size = v)
    case (o, Seq("--cores", v)) => o.copy(cores = v.toInt)
    case (o, Seq("--state-dir", v)) => o.copy(stateDir = v)
    case (o, Seq("--root", v)) => o.copy(root = v)
    case (o, Seq("--build", v)) => o.copy(build = v)
    case (o, Seq("--record", v)) => o.copy(record = v == "1")
    case (_, other) => throw new IllegalArgumentException(s"bad arguments: ${other.mkString(" ")}")
  }

  def session(cores: Int, root: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.local.dir", s"$root/spark-local")
      .config("spark.sql.warehouse.dir", s"$root/warehouse")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.locality.wait", "0")
      .config("spark.sql.files.maxPartitionBytes", "16m")
      // sound for the crawl corpus: it is written one file per bucket, so a
      // bucketed scan is sorted by url and the fetch join needs no sort there
      .config("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.ui.enabled", "false")
      // the status store behind the (disabled) UI would otherwise retain
      // 1000 jobs, stages and SQL executions and trim them in batches,
      // which makes the heap still in use after a GC swing run to run
      .config("spark.ui.retainedJobs", "100")
      .config("spark.ui.retainedStages", "100")
      .config("spark.ui.retainedTasks", "1000")
      .config("spark.ui.dagGraph.retainedRootRDDs", "100")
      .config("spark.sql.ui.retainedExecutions", "50")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private def rmTree(p: Path): Unit =
    if (Files.exists(p)) {
      val walk = Files.walk(p)
      try walk.sorted(java.util.Comparator.reverseOrder[Path]()).iterator.asScala
        .foreach(f => Files.deleteIfExists(f))
      finally walk.close()
    }

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    require(Set("crawl_rounds", "query_suite").contains(o.workload), s"unknown workload ${o.workload}")
    require(Set("default", "tiny").contains(o.size), s"unknown size ${o.size}")
    require(o.cores > 0 && o.stateDir.nonEmpty && o.root.nonEmpty,
      "--cores, --state-dir and --root are required")
    val state = Paths.get(o.stateDir).toAbsolutePath
    // this run's scratch root (corpus, state tables, shuffle, temp files):
    // removed on exit, including on a kill that lets shutdown hooks run
    val root = Paths.get(o.root).toAbsolutePath
    Files.createDirectories(root)
    Runtime.getRuntime.addShutdownHook(new Thread(() => rmTree(root)))
    // the launcher may be killed outright; do not outlive it
    ProcessHandle.current().parent().ifPresent { launcher =>
      val watch = new Thread(() => {
        while (launcher.isAlive) Thread.sleep(500)
        System.exit(3)
      })
      watch.setDaemon(true)
      watch.start()
    }

    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = session(o.cores, root.toString)
    val tracer = if (o.trace) Some(new Tracer) else None
    tracer.foreach(spark.sparkContext.addSparkListener)
    val sessionS = (System.currentTimeMillis() - jvmStart) / 1e3
    val digests = new DigestStore(
      state.getParent.resolve("digests.json"), state.resolve("digests-cache.json"), o.record)
    val ctx = Ctx(spark, o.seed, o.size, o.cores, root.toString, sessionS, tracer,
      digests)

    val res = try o.workload match {
      case "crawl_rounds" => CrawlRounds.run(ctx)
      case "query_suite" => QuerySuite.run(ctx)
    } finally spark.stop()
    digests.save()

    val tag = s"${o.workload}-${o.size}-seed${o.seed}"
    val records = state.resolve("records")
    Files.createDirectories(records)
    // spans stay in memory during the run and are written once it ends
    val selfTime = tracer.map { t =>
      val spans = t.spans(o.workload)
      val traces = state.resolve("traces")
      Files.createDirectories(traces)
      Files.write(traces.resolve(s"$tag.json"), Json.write(spans).getBytes(StandardCharsets.UTF_8))
      TreeMap(Trace.selfTimeByKind(spans).toSeq: _*)
    }
    // traced minus untraced, only against an untraced run of the same build
    val overhead: Any = {
      val untraced = records.resolve(s"$tag-trace0.json")
      if (!Files.exists(untraced)) s"absent: no untraced run of $tag in this checkout"
      else {
        val prior = Json.mapper.readTree(untraced.toFile)
        if (prior.path("build").asText != o.build)
          s"absent: the untraced run of $tag was made by another build (${prior.path("build").asText})"
        else ListMap(Metrics.EndToEnd.map(_._1).flatMap { m =>
          val v = prior.path("end_to_end").path(m).path("value")
          if (v.isNumber) Some(m -> (res.endToEnd(m) - v.asDouble)) else None
        }: _*)
      }
    }
    val correct = res.failed == 0 && res.checks.isEmpty
    def metrics(names: Seq[String], values: Map[String, Double]) = ListMap(names.map(n =>
      n -> ListMap("value" -> values.getOrElse(n, 0.0), "unit" -> Metrics.unitOf(n))): _*)
    val endToEnd = metrics(Metrics.EndToEnd.map(_._1), res.endToEnd)
    val record = ListMap[String, Any](
      "workload" -> o.workload, "size" -> o.size, "seed" -> o.seed, "trace" -> (if (o.trace) 1 else 0),
      "build" -> o.build,
      "cores" -> o.cores, "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1e6,
      "jvm_wall_s" -> (System.currentTimeMillis() - jvmStart) / 1e3,
      "correct" -> correct, "attempted" -> res.attempted, "failed" -> res.failed,
      "check_failures" -> res.checks, "end_to_end" -> endToEnd) ++ res.facts ++
      (if (o.trace) ListMap[String, Any](
        "tracing_overhead" -> overhead,
        "self_time_s" -> selfTime.getOrElse(TreeMap.empty[String, Double]),
        "absent" -> TreeMap(res.absent.toSeq: _*))
      else ListMap.empty[String, Any])
    Files.write(records.resolve(s"$tag-trace${if (o.trace) 1 else 0}.json"),
      (Json.write(record) + "\n").getBytes(StandardCharsets.UTF_8))
    println(Json.write(ListMap("record" -> record)))
    println(Json.write(ListMap(
      "correct" -> correct, "attempted" -> res.attempted, "failed" -> res.failed,
      "metrics" -> (if (o.trace) metrics(Metrics.PerLayer.map(_._1), res.perLayer) else endToEnd))))
    System.out.flush()
  }
}
