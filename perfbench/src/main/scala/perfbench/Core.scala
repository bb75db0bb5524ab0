package perfbench

import java.util.SplittableRandom
import java.util.concurrent.atomic.AtomicInteger

import graft.core.{Hashes, LinkExtract, Robots, SyntheticWeb, TextExtract, UrlCanon}

/** The Spark-free kernel (`graft.core`) timed call by call on one thread,
  * over a seeded sample of the URLs `FrontierGen.init(seed)` draws, then the
  * whole fetch+parse kernel on `threads` threads as the host-capacity
  * control. */
object Core {
  private val SamplePages = 600

  def sample(run: Run, frontierSize: Long): Unit = {
    val r = new SplittableRandom(run.seed)
    val urls = Array.fill(SamplePages)(
      SyntheticWeb.urlFor(Hashes.mix(run.seed, r.nextLong(frontierSize))))
    urls.foreach(kernel) // warm the JIT before timing
    var fetchNs, textNs, linkNs, canonNs, robotsNs = 0L
    var pages, htmlBytes, links, hrefs = 0L
    def timed[T](add: Long => Unit)(body: => T): T = {
      val t0 = System.nanoTime()
      val out = body
      add(System.nanoTime() - t0)
      out
    }
    run.spans.span("core.sample") {
      urls.foreach { u =>
        val f = timed(fetchNs += _)(SyntheticWeb.fetch(u))
        if (f.status == 200) {
          pages += 1
          htmlBytes += f.html.length
          timed(textNs += _)(TextExtract.extract(f.html))
          links += timed(linkNs += _)(LinkExtract.extract(f.html, u)).size
          val raw = SyntheticWeb.hrefsFor(u)
          hrefs += raw.size
          timed(canonNs += _)(raw.foreach(h => UrlCanon.canonicalize(u, h)))
        }
      }
      val bodies = urls.map(UrlCanon.hostOf).distinct.map(SyntheticWeb.robotsBody)
      timed(robotsNs += _)(bodies.foreach(b => Robots.parse(b)))
      val perPage = 1e-3 / math.max(pages, 1L)
      run.layer("core.fetch_us_per_page", fetchNs * 1e-3 / urls.length)
      run.layer("core.text_extract_us_per_page", textNs * perPage)
      run.layer("core.link_extract_us_per_page", linkNs * perPage)
      run.layer("core.url_canon_us_per_link", canonNs * 1e-3 / math.max(hrefs, 1L))
      run.layer("core.robots_us_per_host", robotsNs * 1e-3 / bodies.length)
      run.layer("core.pages", pages.toDouble)
      run.layer("core.html_bytes", htmlBytes.toDouble)
      run.layer("core.links", links.toDouble)
    }
    run.layer("core.kernel_pages_per_s",
      run.spans.span("core.kernel")(kernelRate(urls, run.threads)))
  }

  private def kernel(u: String): Unit = {
    val f = SyntheticWeb.fetch(u)
    if (f.status == 200) {
      TextExtract.extract(f.html)
      LinkExtract.extract(f.html, u)
    }
  }

  /** Pages per second of fetch+parse over `urls` (four passes) on `threads`
    * plain JVM threads sharing one work counter. */
  private def kernelRate(urls: Array[String], threads: Int): Double = {
    val total = urls.length * 4
    val next = new AtomicInteger(0)
    val t0 = System.nanoTime()
    val ts = Seq.fill(threads)(new Thread(() => {
      var i = next.getAndIncrement()
      while (i < total) { kernel(urls(i % urls.length)); i = next.getAndIncrement() }
    }))
    ts.foreach(_.start())
    ts.foreach(_.join())
    total / ((System.nanoTime() - t0) / 1e9)
  }
}
