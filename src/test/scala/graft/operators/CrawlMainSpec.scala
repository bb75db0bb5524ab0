package graft.operators

import org.scalatest.funsuite.AnyFunSuite

/** The CLI parser fails loudly on options it does not know — including the
  * removed ones — before any SparkSession is built. */
class CrawlMainSpec extends AnyFunSuite {

  test("removed options fail loudly as unknown") {
    Seq(Array("--filter-shards", "4", "--base", "/nonexistent/crawl"),
        Array("--frontier-deltas", "--base", "/nonexistent/crawl"),
        Array("--no-bloom", "--base", "/nonexistent/crawl"),
        Array("--adaptive-backoff", "--base", "/nonexistent/crawl")).foreach { args =>
      val e = intercept[RuntimeException](CrawlMain.main(args))
      assert(e.getMessage.startsWith(s"unknown option '${args.head}'"), e.getMessage)
    }
  }
}
