package perfbench

import graft.functions.{Bloom64, Html, UrlCanon}
import graft.sources.SyntheticWeb

/** `spark.*` execution metrics per op, from the traced run's op views. */
object Spark {

  def layers(views: Seq[Tracer#OpView], cores: Int): Map[String, Double] = {
    val n = math.max(views.size, 1).toDouble
    def perOp(f: Tracer#OpView => Double): Double = views.map(f).sum / n
    val taskS = views.map(_.stages.map(_.runMs).sum / 1e3).sum
    val wall = views.map(_.wall).sum
    Map(
      "spark.jobs_per_op" -> perOp(_.jobs.size.toDouble),
      "spark.stages_per_op" -> perOp(_.stages.size.toDouble),
      "spark.tasks_per_op" -> perOp(_.stages.map(_.tasks).sum.toDouble),
      "spark.task_s" -> taskS / n,
      "spark.task_cpu_s" -> perOp(_.stages.map(_.cpuNs).sum / 1e9),
      "spark.gc_s" -> perOp(_.gcS),
      "spark.shuffle_write_mb" -> perOp(_.stages.map(_.shuffleWrite).sum / 1e6),
      "spark.shuffle_read_mb" -> perOp(_.stages.map(_.shuffleRead).sum / 1e6),
      "spark.spill_mb" -> perOp(_.stages.map(_.spill).sum / 1e6),
      "spark.driver_gap_s" -> perOp(_.driverGap),
      "spark.codegen_compiles" -> perOp(_.compiles),
      "spark.codegen_ms" -> perOp(_.compileMs),
      "spark.core_busy_frac" -> (if (wall <= 0) 0.0 else taskS / (wall * cores)))
  }
}

/** `functions.*`: the crawl's per-row kernels timed on the workload's own
  * generated pages, single-threaded, outside Spark. Each kernel runs over
  * the whole sample several times; the median pass is reported.
  */
object Kernels {

  private var sink = 0L

  private def medianPassNs(passes: Int, items: Int)(body: => Long): Double = {
    val ts = (1 to passes).map { _ =>
      val t0 = System.nanoTime()
      sink += body
      (System.nanoTime() - t0).toDouble / math.max(items, 1)
    }
    Metrics.median(ts)
  }

  def measure(web: SyntheticWeb.WebConfig, nPages: Int): Map[String, Double] = {
    val n = math.min(nPages.toLong, web.nPages).toInt
    val urls = Array.tabulate(n)(i => SyntheticWeb.pageUrl(web, i.toLong))
    val htmls = Array.tabulate(n)(i => SyntheticWeb.makePage(web, i.toLong).html)
    val hrefs = htmls.map(h => Html.scanPageHrefs(h).hrefs)
    val links = hrefs.map(_.length).sum
    val passes = 7

    // the crawl hot path scans pages with scanPageHrefs (hrefs + text hash)
    val scanNs = medianPassNs(passes, n) {
      var acc = 0L
      var i = 0
      while (i < n) { val s = Html.scanPageHrefs(htmls(i)); acc += s.hrefs.length + s.textXxh64; i += 1 }
      acc
    }
    // resolve + canonParts per link, as the ResolveLinksGen generator runs them
    val canonNs = medianPassNs(passes, links) {
      var acc = 0L
      var i = 0
      while (i < n) {
        val hs = hrefs(i)
        var j = 0
        while (j < hs.length) {
          val cp = UrlCanon.canonParts(UrlCanon.resolve(urls(i), hs(j)))
          if (cp != null) acc += cp.surt.length
          j += 1
        }
        i += 1
      }
      acc
    }
    // filter over the sample's page urls, probed with every link
    val keys = urls.map(u => Bloom64.mix(u.hashCode.toLong))
    val bf = Bloom64.empty(keys.length.toLong, 1e-3)
    keys.foreach(Bloom64.put(bf, _))
    val probes = hrefs.flatten.map(h => Bloom64.mix(h.hashCode.toLong))
    val probeNs = medianPassNs(passes, probes.length) {
      var acc = 0L
      var i = 0
      while (i < probes.length) { if (Bloom64.mightContain(bf, probes(i))) acc += 1; i += 1 }
      acc
    }
    Map(
      "functions.Html.scan_ns_per_page" -> scanNs,
      "functions.UrlCanon.canon_ns_per_link" -> canonNs,
      "functions.Bloom64.probe_ns" -> probeNs,
      "functions.links_per_page" -> links.toDouble / math.max(n, 1))
  }
}
