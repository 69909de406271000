package perfbench

import scala.collection.immutable.ListMap

import org.apache.spark.sql.functions.{col, count}

import graft.SparkEntry

/** Workload `query_suite`: the 57 `SparkEntry.queries`, one timed pass in a
  * fresh JVM, after the lineitem warm-up query `graft.Bench` runs. The
  * input tables are generated from a fixed seed (the suite's data is fixed
  * and read-only, so `--seed` does not change it) and every query's output
  * digest is compared with the recorded one on every run.
  */
object QuerySuite {

  val DataSeed = 42L

  def run(ctx: Ctx): RunResult = {
    val spark = ctx.spark
    // the pass is dominated by per-query driver work (jobs, codegen), which
    // data volume barely moves; the smallest test scale keeps each run short
    val sf = 0.001
    val checks = Seq.newBuilder[String]
    val entry = SparkEntry.queries
    if (entry.keySet != Metrics.Queries.toSet)
      checks += s"SparkEntry.queries differs from the benchmark's 57 names: " +
        s"missing ${Metrics.Queries.filterNot(entry.contains)}, extra ${entry.keySet -- Metrics.Queries}"

    // ---- set-up: generate every table, register the ten tables and run
    // the warm-up query ----
    val dir = s"${ctx.root}/data"
    val t0 = System.nanoTime()
    QueryData.write(spark, dir, DataSeed, sf)
    val inputsS = (System.nanoTime() - t0) / 1e9
    val t1 = System.nanoTime()
    QueryData.Tables.foreach(t => spark.read.parquet(s"$dir/$t.parquet").schema)
    spark.read.parquet(s"$dir/lineitem.parquet")
      .groupBy(col("l_returnflag")).agg(count(col("l_orderkey"))).count()
    val warmupS = (System.nanoTime() - t1) / 1e9
    val setupS = ctx.sessionS + inputsS + warmupS

    // ---- measured pass: one op = one query; closed loop ----
    ctx.tracer.foreach(_.beginWorkload())
    val key = s"query_suite/sf$sf-data$DataSeed"
    val results = Metrics.Queries.filter(entry.contains).map { q =>
      val t0 = System.nanoTime()
      val out = try Right(ctx.op(q)(Digest.of(entry(q)(spark, dir)))) catch {
        case e: Exception => Left(s"$q threw ${e.getClass.getSimpleName}: ${e.getMessage}")
      }
      (q, (System.nanoTime() - t0) / 1e9, out)
    }
    val retainedHeapMb = RetainedHeap.mb()
    var failed = Metrics.Queries.count(q => !entry.contains(q))
    results.foreach {
      case (_, _, Left(msg)) => checks += msg; failed += 1
      case (q, _, Right(d)) => ctx.digests.check(s"$key/$q", d).foreach { m => checks += m; failed += 1 }
    }
    val walls = results.map(_._2)
    val suiteS = walls.sum

    val e2e = Map(
      "setup_s" -> setupS,
      "items_per_s" -> results.size / suiteS,
      "op_p50_s" -> Metrics.median(walls),
      "op_p90_s" -> Metrics.quantile(walls, 0.9),
      "retained_heap_mb" -> retainedHeapMb)

    val (layers, absent) = ctx.tracer match {
      case None => (Map.empty[String, Double], Map.empty[String, String])
      case Some(t) =>
        t.drain(spark)
        val views = t.views()
        val byName = views.map(v => v.op.name -> v).toMap
        val wallOf = results.map(r => r._1 -> r._2).toMap
        def moduleOf(q: String) = Metrics.QueryModule.getOrElse(q, "other")
        val graph = Metrics.Queries.filter(moduleOf(_) == "Graph").flatMap(byName.get)
        val na = "crawl_rounds only: this workload runs no crawl round, kernel or state table"
        (Spark.layers(views, ctx.cores) ++
          Metrics.Modules.map(m => s"operators.${m}_s" ->
            wallOf.filter(w => moduleOf(w._1) == m).values.sum) ++
          Seq(
            "SparkEntry.other_s" -> wallOf.filter(w => moduleOf(w._1) == "other").values.sum,
            "SparkEntry.suite_s" -> suiteS,
            "Graph.jobs" -> graph.map(_.jobs.size).sum.toDouble,
            "Graph.driver_gap_s" -> graph.map(_.driverGap).sum,
            "Graph.codegen_compiles" -> graph.map(_.compiles).sum) ++
          wallOf.map { case (q, w) => s"query.${q}_s" -> w },
          Metrics.PerLayer.map(_._1).filter(n =>
            n.startsWith("functions.") || n.startsWith("CrawlRound.") ||
              n.startsWith("StateTable.") || n.startsWith("SeenStore.")).map(_ -> na).toMap)
    }

    RunResult(
      attempted = Metrics.Queries.size, failed = failed, checks = checks.result(),
      endToEnd = e2e, perLayer = layers, absent = absent,
      facts = ListMap(
        "ops" -> s"one pass of ${results.size} queries at sf$sf (data seed $DataSeed)",
        "op_samples" -> walls.size,
        "suite_s" -> suiteS,
        "query_walls_s" -> ListMap(results.map(r => r._1 -> r._2): _*),
        "setup_parts_s" -> ListMap(
          "session" -> ctx.sessionS,
          "inputs" -> inputsS,
          "register_and_warmup" -> warmupS),
        "digest_source" -> ctx.digests.source(s"$key/q_a1_agg")))
  }
}
