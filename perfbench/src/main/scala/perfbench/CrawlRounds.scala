package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.immutable.ListMap
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, count, countDistinct, lit}

import graft.model.CrawlConfig
import graft.plans.{CrawlRound, Crawler}
import graft.sources.{StateTable, SyntheticWeb}

/** Workload `crawl_rounds`: full crawl rounds through `Crawler.crawl` on a
  * `SyntheticWeb` corpus generated from the seed. The budget K is far above
  * what per-host politeness admits (so it never binds), and above the
  * broadcast gate, so the fetch takes the sort-merge arm against the
  * url-bucketed corpus. Warm-up rounds are set-up; the measured window
  * always contains the first seen/frontier compaction round.
  */
object CrawlRounds {

  /** The workload's shape; recorded digests are keyed by its hash. */
  final case class Size(pages: Long, hosts: Int, seeds: Int, density: Int, kernelPages: Int)

  val Default: Size = Size(pages = 10000, hosts = 1000, seeds = 1000, density = 2, kernelPages = 2000)
  val Tiny: Size = Size(pages = 3000, hosts = 300, seeds = 300, density = 1, kernelPages = 300)

  private val Budget = 90000
  private val Buckets = 4
  private val Warmup = 1
  /** Measured rounds per run (2..5): about 20 s at the default size. The
    * window is fixed in rounds, not seconds, so one seed always produces the
    * same rounds and the same digests. */
  private val Measured = 4
  /** The engine default is 8. At 4 the seen and frontier chains fold at
    * round 3, inside the window; at 8 the first compaction comes at round 7,
    * and seven rounds per run do not fit the benchmark's time budget. */
  private val CompactEvery = 4

  private def counterString(c: CrawlRound.RoundCounters): String =
    s"${c.admitted}/${c.fetched200}/${c.candidates}/${c.newUrls}/${c.dedupDropped}"

  def run(ctx: Ctx): RunResult = {
    val spark = ctx.spark
    val z = if (ctx.tiny) Tiny else Default
    val web = SyntheticWeb.WebConfig(seed = ctx.seed, nPages = z.pages, nHosts = z.hosts,
      density = z.density)
    val cfg = CrawlConfig(roundBudget = Budget, compactEvery = CompactEvery)
    val seeds = SyntheticWeb.seeds(web, z.seeds)
    val lastRound = Warmup + Measured
    // digests are keyed by the workload's shape, so a resized workload never
    // meets values recorded for another shape
    val shape = (z, Budget, Buckets, Warmup, Measured, CompactEvery).hashCode
    val key = s"crawl_rounds/${ctx.size}-${Integer.toHexString(shape)}/seed${ctx.seed}"
    val checks = Seq.newBuilder[String]

    // ---- set-up: generate the url-bucketed corpus, seed a fresh state
    // directory (snapshot v0) and run the warm-up round on it ----
    val t0 = System.nanoTime()
    SyntheticWeb.pages(spark, web).toDF()
      .repartition(Buckets, col("url"))
      .write.bucketBy(Buckets, "url").sortBy("url")
      .option("path", s"${ctx.root}/corpus")
      .saveAsTable("pages")
    val pages = spark.table("pages")
    val robots = SyntheticWeb.robotsTable(spark, web)
    val corpusS = (System.nanoTime() - t0) / 1e9
    val stateDir = s"${ctx.root}/state"
    val t1 = System.nanoTime()
    Crawler.crawl(spark, stateDir, pages, robots, seeds, cfg, 0)
    val seedingS = (System.nanoTime() - t1) / 1e9
    val tw = System.nanoTime()
    val warm = Crawler.crawl(spark, stateDir, pages, robots, seeds, cfg, Warmup)
    val warmupS = (System.nanoTime() - tw) / 1e9
    val setupS = ctx.sessionS + corpusS + seedingS + warmupS

    val frontierBefore = CrawlRound.readFrontier(spark, stateDir).count()
    val seenBefore = seenRows(spark, stateDir).count()
    val bytesBefore = treeBytes(Paths.get(stateDir))

    // ---- measured window: one op = one round; closed loop ----
    ctx.tracer.foreach(_.beginWorkload())
    var failed = 0
    val rounds = Seq.newBuilder[(CrawlRound.RoundCounters, Double)]
    val fanIn = Seq.newBuilder[(Int, Int)]
    var r = Warmup + 1
    while (r <= lastRound) {
      if (ctx.traced) fanIn += ((chainFiles(s"$stateDir/frontier"), chainFiles(s"$stateDir/url_seen")))
      val t0 = System.nanoTime()
      try {
        val c = ctx.op(s"round $r")(Crawler.crawl(spark, stateDir, pages, robots, seeds, cfg, r))
        rounds += ((c.last, (System.nanoTime() - t0) / 1e9))
        r += 1
      } catch {
        case e: Exception =>
          // a round that throws leaves nothing to resume from honestly:
          // every remaining round of the window counts as failed
          checks += s"round $r threw ${e.getClass.getSimpleName}: ${e.getMessage}"
          failed += lastRound - r + 1
          r = lastRound + 1
      }
    }
    val retainedHeapMb = RetainedHeap.mb()
    val done = rounds.result()
    val walls = done.map(_._2)
    val counters = done.map(_._1)

    // ---- output checks: per-round counters, invariants, final frontier. A
    // round whose output fails a check counts as failed ----
    val bad = scala.collection.mutable.LinkedHashSet.empty[Long]
    def fail(round: Long, msg: String): Unit = { checks += msg; bad += round }
    (warm ++ counters).foreach { c =>
      if (c.fetched200 > c.admitted || c.newUrls > c.candidates || c.admitted > cfg.roundBudget ||
          c.dedupDropped != c.candidates - c.newUrls || c.admitted <= 0)
        fail(c.round, s"round ${c.round}: inconsistent counters ${counterString(c)}")
      ctx.digests.check(s"$key/round${c.round}", counterString(c)).foreach(fail(c.round, _))
    }
    val admitted = counters.map(_.admitted).sum
    val newUrls = counters.map(_.newUrls).sum
    counters.lastOption.foreach { last =>
      val frontierAfter = CrawlRound.readFrontier(spark, stateDir).count()
      if (frontierAfter != frontierBefore - admitted + newUrls)
        fail(last.round, s"frontier rows $frontierAfter != $frontierBefore - $admitted + $newUrls")
      val seen = seenRows(spark, stateDir).agg(count(lit(1)), countDistinct(col("surt"))).head()
      if (seen.getLong(0) != seenBefore + newUrls || seen.getLong(1) != seen.getLong(0))
        fail(last.round, s"seen rows ${seen.getLong(0)} (distinct ${seen.getLong(1)}) != $seenBefore + $newUrls")
      val fd = Digest.of(Crawler.orderedFrontier(spark, stateDir))
      ctx.digests.check(s"$key/frontier@v${last.round}", fd).foreach(fail(last.round, _))
      if (!counters.exists(c => compacted(stateDir, c.round)))
        fail(last.round, "the measured window holds no compaction round")
    }
    failed += bad.count(_ > Warmup)

    val e2e = Map(
      "setup_s" -> setupS,
      "items_per_s" -> (if (walls.isEmpty) 0.0 else admitted / walls.sum),
      "op_p50_s" -> (if (walls.isEmpty) 0.0 else Metrics.median(walls)),
      "op_p90_s" -> (if (walls.isEmpty) 0.0 else Metrics.quantile(walls, 0.9)),
      "retained_heap_mb" -> retainedHeapMb)

    val (layers, absent) = ctx.tracer match {
      case None => (Map.empty[String, Double], Map.empty[String, String])
      case Some(t) =>
        t.drain(spark)
        val views = t.views()
        val bytesAfter = treeBytes(Paths.get(stateDir))
        val seenAfter = seenBefore + newUrls
        val fan = fanIn.result()
        val perRound = views.zip(counters).map { case (v, c) => phases(v, c.round) }
        val phaseAbsent = perRound.flatMap(_._2).toMap
        val present = perRound.map(_._1)
        def mean(f: Map[String, Double] => Option[Double]): Double = {
          val xs = present.flatMap(f)
          if (xs.isEmpty) 0.0 else xs.sum / xs.size
        }
        val kernels = Kernels.measure(web, z.kernelPages)
        val stateLayers = Map(
          "CrawlRound.admit_s" -> mean(_.get("admit")),
          "CrawlRound.writes_s" -> mean(_.get("writes")),
          "CrawlRound.tail_s" -> mean(_.get("tail")),
          "CrawlRound.fetched200_frac" -> counters.map(_.fetched200).sum.toDouble / math.max(admitted, 1L),
          "CrawlRound.new_frac" -> newUrls.toDouble / math.max(counters.map(_.candidates).sum, 1L),
          "StateTable.bytes_written_per_url" -> (bytesAfter - bytesBefore).toDouble / math.max(admitted, 1L),
          "StateTable.state_bytes_per_url" -> bytesAfter.toDouble / math.max(seenAfter, 1L),
          "StateTable.frontier_files" -> fan.map(_._1).sum.toDouble / math.max(fan.size, 1),
          "StateTable.seen_files" -> fan.map(_._2).sum.toDouble / math.max(fan.size, 1),
          "StateTable.compactions" -> counters.map(c =>
            Seq("frontier", "url_seen").count(tbl => isCompacted(s"$stateDir/$tbl", c.round))).sum.toDouble,
          "SeenStore.sidecar_mb" -> treeBytes(Paths.get(stateDir, "url_seen", "_bloom")) / 1e6) ++
          Metrics.StateTables.map(tbl => s"StateTable.write_s.$tbl" -> mean(_.get(s"write.$tbl")))
        val na = "query_suite only: this workload runs no SparkEntry query"
        (Spark.layers(views, ctx.cores) ++ kernels ++ stateLayers,
          phaseAbsent ++
            Metrics.PerLayer.map(_._1).filter(n =>
              n.startsWith("query.") || n.startsWith("operators.") || n.startsWith("Graph.") ||
                n.startsWith("SparkEntry.")).map(_ -> na))
    }

    RunResult(
      attempted = Measured, failed = failed,
      checks = checks.result(), endToEnd = e2e, perLayer = layers, absent = absent,
      facts = ListMap(
        "ops" -> s"$Measured measured rounds (${Warmup + 1}..$lastRound) after $Warmup warm-up",
        "op_samples" -> walls.size,
        "op_walls_s" -> walls,
        "round_counters" -> (warm ++ counters).map(c => s"r${c.round}=${counterString(c)}"),
        "admitted_urls" -> admitted,
        "setup_parts_s" -> ListMap(
          "session" -> ctx.sessionS,
          "corpus" -> corpusS,
          "seed_state" -> seedingS,
          "warmup_rounds" -> warmupS),
        "corpus" -> s"${z.pages} pages, ${z.hosts} hosts, ${z.seeds} seeds, density ${z.density}, K=$Budget",
        "digest_source" -> ctx.digests.source(s"$key/round${Warmup + 1}")))
  }

  private def seenRows(spark: org.apache.spark.sql.SparkSession, stateDir: String): DataFrame =
    StateTable.readAppended(spark, CrawlRound.seenDir(stateDir))

  /** Round phases from the jobs of one round op. The commit writes are the
    * jobs whose call site the round tags `commit:<table> r<round>`. */
  private def phases(v: Tracer#OpView, round: Long): (Map[String, Double], Seq[(String, String)]) = {
    val commits = v.jobs.filter(_.callSite.startsWith("commit:"))
    if (commits.isEmpty) return (Map.empty, Seq(
      "CrawlRound.admit_s", "CrawlRound.writes_s", "CrawlRound.tail_s").map(
      _ -> s"round $round ran no job tagged commit:* (call site missing)"))
    val firstCommit = commits.map(_.start).min
    val lastCommit = commits.map(_.end).max
    val beforeCommit = v.jobs.filter(_.start < firstCommit).map(_.end)
    val admitEnd = if (beforeCommit.isEmpty) v.op.start else beforeCommit.max
    val perTable = Map("fetch_log" -> "fetch_log", "seen" -> "url_seen",
      "frontier" -> "frontier", "host_state" -> "host_state").flatMap { case (tag, tbl) =>
      val js = commits.filter(_.callSite.startsWith(s"commit:$tag "))
      if (js.isEmpty) None
      else Some(s"write.$tbl" -> (js.map(_.end).max - js.map(_.start).min) / 1e3)
    }
    (Map(
      "admit" -> (admitEnd - v.op.start) / 1e3,
      "writes" -> (lastCommit - firstCommit) / 1e3,
      "tail" -> (v.op.end - lastCommit) / 1e3) ++ perTable, Seq.empty)
  }

  private def treeBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val w = Files.walk(p)
      try w.iterator.asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally w.close()
    }

  /** Version `v` of table `dir` is a compacted (full) snapshot. */
  private def isCompacted(dir: String, v: Long): Boolean =
    StateTable.manifest(dir, v).exists(_.compactedThrough == v)

  private def compacted(stateDir: String, v: Long): Boolean =
    isCompacted(s"$stateDir/url_seen", v) || isCompacted(s"$stateDir/frontier", v)

  /** Data files a merged read of `dir` at its current version opens: the
    * newest compacted (or first) snapshot and every delta and tombstone set
    * after it. */
  private def chainFiles(dir: String): Int = {
    val vs = StateTable.versions(dir)
    if (vs.isEmpty) 0
    else {
      val base = vs.filter(v => isCompacted(dir, v)).lastOption.getOrElse(vs.head)
      vs.filter(_ >= base).map { v =>
        Seq(StateTable.snapPath(dir, v), StateTable.delPath(dir, v)).map { p =>
          val d = Paths.get(p)
          if (!Files.isDirectory(d)) 0
          else {
            val s = Files.list(d)
            try s.iterator.asScala.count(_.getFileName.toString.endsWith(".parquet"))
            finally s.close()
          }
        }.sum
      }.sum
    }
  }
}
