package graft

import org.apache.spark.sql.SparkSession

/** Executor-scaled frontier-expansion probe — a SEPARATE main so the frozen
  * driver bench ([[Bench]]) is untouched. One mode:
  *
  *  - `cluster [pairs]` — run the dataflow rep (one `Crawler.expandOnce`
  *    over the bench corpus at `SPARK_GRAFT_BENCH_CORPUS`) on Spark's
  *    `local-cluster` master with 1 and then 4 executors of 8 cores and
  *    9 GiB each, `pairs` times (default 2), and print URLs/s per width and
  *    the N-vs-4N efficiency. Separate executor JVMs bring N× heaps, GCs
  *    and schedulers, which local[N] (one heap, one GC) cannot emulate.
  *    Needs the full Spark distribution (`SPARK_HOME`) so the in-process
  *    Worker can launch executor JVMs; app classes ship via the executor
  *    extraClassPath.
  *
  * Per-query, per-stage and per-kernel timings live in `perfbench/`
  * (`python3 perfbench/run.py --trace 1`); physical plans in [[Plans]].
  */
object BenchExtra {

  def main(args: Array[String]): Unit = {
    args.headOption match {
      case Some("cluster") =>
        val corpus = sys.env.getOrElse("SPARK_GRAFT_BENCH_CORPUS", "/dev/shm/graft-shuffle/r6corpus")
        val pairs = if (args.length > 1) args(1).toInt else 2
        val coresPer = 8
        val memMb = 9216
        val web = graft.sources.SyntheticWeb.WebConfig(
          seed = 42L, nPages = 1000000L, nHosts = 100000, density = 6)
        def clusterRun(nExec: Int): Double = {
          val classesDir = new java.io.File(
            getClass.getProtectionDomain.getCodeSource.getLocation.toURI).getAbsolutePath
          val spark = SparkSession.builder()
            .master(s"local-cluster[$nExec,$coresPer,$memMb]")
            .appName(s"graft-cluster-$nExec")
            .config("spark.executor.memory", s"${memMb}m")
            .config("spark.executor.extraClassPath", classesDir)
            .config("spark.local.dir", sys.env.getOrElse("SPARK_GRAFT_LOCAL_DIR", "/dev/shm/graft-shuffle"))
            .config("spark.sql.shuffle.partitions", (nExec * coresPer).toString)
            .config("spark.sql.adaptive.enabled", "true")
            .config("spark.locality.wait", "0")
            .config("spark.sql.files.maxPartitionBytes", "16m")
            .config("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
            .config("spark.sql.session.timeZone", "UTC")
            .config("spark.sql.extensions", "graft.functions.GraftExtensions")
            .config("spark.ui.enabled", "false")
            .getOrCreate()
          spark.sparkContext.setLogLevel("WARN")
          try {
            import org.apache.spark.sql.functions._
            spark.sql("DROP TABLE IF EXISTS pages_bucketed")
            spark.sql(
              s"""CREATE TABLE pages_bucketed
                 |(url STRING, warc_ts TIMESTAMP, html BINARY, text STRING, lang STRING)
                 |USING parquet
                 |CLUSTERED BY (url) SORTED BY (url) INTO 64 BUCKETS
                 |LOCATION '$corpus/pages_bucketed'""".stripMargin)
            val pages = spark.table("pages_bucketed")
            val cfg = graft.model.CrawlConfig()
            val robotsBc = graft.operators.Robots.broadcastPolicies(
              spark, graft.sources.SyntheticWeb.robotsTable(spark, web), cfg)
            def frontierOf(p: Int) = pages.select(col("url"))
              .where(pmod(xxhash64(col("url")), lit(100)) < p)
              .withColumn("surt", graft.functions.UrlFunctions.surtUdf(col("url")))
              .withColumn("host", graft.functions.UrlFunctions.hostOfUdf(col("url")))
              .withColumn("host_bucket", graft.functions.UrlFunctions.hostBucket(col("host"), cfg.buckets))
              .withColumn("depth", lit(0))
              .withColumn("score", lit(1.0))
            graft.plans.Crawler.expandOnce(spark, frontierOf(20), pages, robotsBc, cfg).count()
            val n = frontierOf(100).count()
            val secs = (1 to 2).map { _ =>
              val t0 = System.nanoTime()
              graft.plans.Crawler.expandOnce(spark, frontierOf(100), pages, robotsBc, cfg).count()
              (System.nanoTime() - t0) / 1e9
            }.min
            n / secs
          } finally spark.stop()
        }
        val samples = (1 to pairs).map { i =>
          val lo = clusterRun(1)
          val hi = clusterRun(4)
          println(f"[cluster pair $i] 1x8 execs: $lo%.0f URLs/s; 4x8 execs: $hi%.0f URLs/s; eff ${(hi / lo) / 4}%.3f")
          (lo, hi)
        }
        val bestLo = samples.map(_._1).max
        val bestHi = samples.map(_._2).max
        println(f"[cluster] per-width max: 1x8=${bestLo}%.0f 4x8=${bestHi}%.0f URLs/s, efficiency ${(bestHi / bestLo) / 4}%.4f")

      case _ =>
        System.err.println("usage: graft.BenchExtra cluster [pairs]")
        sys.exit(2)
    }
  }
}
