package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.UrlCanon
import graft.operators.UrlDedup

/** Pins the URL canonicalization chain (`dedup_url`, r16): the
  * general rules the DuckDB oracle exercises only instance-wise
  * (unreserved percent-decode, reserved-escape preservation), the
  * normalization steps one by one, idempotence, totality, and the
  * codegen expression + SQL registration round trip. */
class UrlCanonSpec extends AnyFunSuite {
  import SparkTestSession._

  private def c(u: String): String = UrlCanon.canonical(u)

  test("chain steps: fragment, case, default ports, tracking params") {
    assert(c("HTTPS://Example.COM/Path#frag") == "https://example.com/Path")
    // path case is preserved (paths are case-sensitive per RFC 3986)
    assert(c("http://A.B/KeepCase") == "http://a.b/KeepCase")
    // default port strips only for its own scheme
    assert(c("http://h:80/x") == "http://h/x")
    assert(c("https://h:443/x") == "https://h/x")
    assert(c("http://h:443/x") == "http://h:443/x")
    assert(c("https://h:8443/x") == "https://h:8443/x")
    // tracking params drop, survivor order preserved, '?' dropped
    // when none survive
    assert(c("https://h/p?utm_source=a&id=2&gclid=g&x=1&utm_medium=m") ==
      "https://h/p?id=2&x=1")
    assert(c("https://h/p?utm_source=a&fbclid=f") == "https://h/p")
    assert(c("https://h/p?msclkid=1&mc_eid=2") == "https://h/p")
    // bare `ref` is content-bearing (?ref=<branch> on code hosts) and
    // deliberately NOT a tracking key (ADVICE r16)
    assert(c("https://h/p?ref=main&gclid=g") == "https://h/p?ref=main")
    // a NON-tracking key that merely contains a tracking name stays
    assert(c("https://h/p?refresh=1&buttm_x=2") == "https://h/p?refresh=1&buttm_x=2")
    // userinfo stays case-sensitive; only the host lowercases
    assert(c("https://User:Pw@Host.COM/x") == "https://User:Pw@host.com/x")
  }

  test("percent-decode: unreserved only, reserved escapes preserved") {
    assert(c("https://h/%7Euser/pa%74h") == "https://h/~user/path")
    assert(c("https://h/a%2Fb") == "https://h/a%2Fb")   // '/' reserved
    assert(c("https://h/a%3Fb") == "https://h/a%3Fb")   // '?' reserved
    assert(c("https://h/a%2fb") == "https://h/a%2fb")   // case kept on reserved
    assert(c("https://h/%41%5a%30%2D%2e%5F") == "https://h/AZ0-._")
    // bad hex / dangling % pass through verbatim
    assert(c("https://h/a%zzb%4") == "https://h/a%zzb%4")
    // %26 ('&', reserved) in a query must NOT become a separator:
    // the param splits before any decode
    assert(c("https://h/p?a=1%262&utm_source=x") == "https://h/p?a=1%262")
    // a percent-ENCODED tracking key must not slip the filter and
    // decode into a literal one (that would break idempotence —
    // review r16)
    assert(c("https://h/p?%75tm_source=x&id=1") == "https://h/p?id=1")
    assert(c("https://h/p?%67clid=g&id=1") == "https://h/p?id=1")
    assert(c(c("https://h/p?%75tm_source=x&id=1")) ==
      c("https://h/p?%75tm_source=x&id=1"))
  }

  test("totality and idempotence") {
    assert(c(null) == null)
    assert(c("") == "")
    assert(c("no scheme at all") == "no scheme at all")
    assert(c("relative/pa%74h#f") == "relative/path")
    // '://' with no valid scheme before it: no authority to normalize
    assert(c("/q?x=a://B.C") == "/q?x=a://B.C")
    val messy = Seq(
      "HTTPS://A.B:443/%7Ex?utm_source=s&id=1#f",
      "http://h:80/", "https://h/p?gclid=1", "weird%41")
    messy.foreach { u =>
      assert(c(c(u)) == c(u), s"not idempotent on $u")
    }
  }

  test("expression stays codegen'd and the SQL registration works") {
    import spark.implicits._
    GraftExtensions.register(spark)
    val df = Seq("HTTPS://Example.COM:443/a%7Eb?utm_source=x&id=1#f")
      .toDF("url")
      .select(UrlCanon.urlCanonicalize(col("url")).as("u"))
    assert(df.as[String].head() == "https://example.com/a~b?id=1")
    // whole-stage codegen must cover the projection (no UDF fallback)
    // — asserted on a parquet-backed frame (a local Seq constant-folds
    // to a LocalTableScan before any codegen happens)
    val planned = UrlDedup.queries("dedup_url")(spark, sf)
    planned.collect() // materialize the AQE final plan
    val plan = planned.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    // the AQE final plan prints whole-stage-codegen spans as "*(n)";
    // the expression must sit INSIDE one (an operator line carrying
    // url_canonicalize with the star prefix), not fall back to
    // interpreted eval or a UDF
    assert(plan.linesIterator.exists(l =>
      l.contains("url_canonicalize") && l.contains("*(")), plan)
    assert(!plan.contains("BatchEvalPython") && !plan.toLowerCase.contains("udf("), plan)
    val viaSql = spark.sql(
      "SELECT url_canonicalize('http://H:80/p?gclid=1&k=v') AS u")
    assert(viaSql.as[String].head() == "http://h/p?k=v")
    // null in, null out through the expression path
    val n = Seq[Option[String]](None).toDF("url")
      .select(UrlCanon.urlCanonicalize(col("url")).as("u"))
    assert(n.head().isNullAt(0))
  }

  test("register is idempotent: a second call replaces no registered function") {
    import org.apache.logging.log4j.LogManager
    import org.apache.logging.log4j.core.{LogEvent, Logger => CoreLogger}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.Property
    val replaced = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val spy = new AbstractAppender("graft-register-spy", null, null, true, Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit = {
        val msg = e.getMessage.getFormattedMessage
        if (msg.contains("replaced a previously registered function")) replaced.add(msg)
      }
    }
    spy.start()
    GraftExtensions.register(spark)
    val root = LogManager.getRootLogger.asInstanceOf[CoreLogger]
    root.addAppender(spy)
    try GraftExtensions.register(spark)
    finally { root.removeAppender(spy); spy.stop() }
    assert(replaced.isEmpty, s"second register re-registered: $replaced")
    assert(spark.sql("SELECT vec_l2_distance(CAST(array(0, 3) AS ARRAY<FLOAT>), " +
        "CAST(array(4, 0) AS ARRAY<FLOAT>)) AS d")
      .head().getDouble(0) == 5.0)
  }

  test("warcToText composes with url canonicalization (the real crawl front door)") {
    import spark.implicits._
    // two fetches of the same page under messy URL variants, via the
    // real container path: canonicalization must collapse them
    val latin1 = java.nio.charset.StandardCharsets.ISO_8859_1
    def rec(uri: String, body: String): String =
      s"WARC/1.0\r\nWARC-Type: response\r\nWARC-Target-URI: $uri\r\n" +
        s"Content-Length: ${body.length}\r\n\r\n$body\r\n\r\n"
    val page = "HTTP/1.1 200 OK\r\n\r\n<html><body>hi</body></html>"
    val file = (rec("HTTPS://Site.COM:443/a%7Eb?utm_source=x&id=1#f", page) +
      rec("https://site.com/a~b?id=1", page)).getBytes(latin1)
    val out = graft.sources.WarcText
      .warcToText(spark, Seq(("f.warc", file)).toDF("path", "content"))
      .select(UrlCanon.urlCanonicalize(col("url")).as("u"), col("text"))
      .collect()
    assert(out.length == 2)
    assert(out.map(_.getString(0)).distinct.toSeq == Seq("https://site.com/a~b?id=1"))
    assert(out.forall(_.getString(1) == "hi"))
  }

  test("dedup_url collapses the three gate variants per key and keeps the best copy") {
    val out = UrlDedup.queries("dedup_url")(spark, sf)
    val rows = out.collect()
    assert(rows.nonEmpty)
    // every canonical url is fully canonical (no fragments, no upper
    // host, no tracking keys, no %74/%7E escapes)
    rows.foreach { r =>
      val u = r.getString(0)
      assert(UrlCanon.canonical(u) == u, s"not canonical: $u")
      assert(!u.contains("#") && !u.contains("utm_") && !u.contains("%7E"))
    }
    // consecutive-triple construction: every full group has exactly 3
    // variants and the groups partition the corpus
    val nDocs = graft.Tables.documents(spark, sf).count()
    assert(rows.map(_.getLong(1)).sum == nDocs)
    assert(rows.count(_.getLong(1) == 3L) == nDocs.toInt / 3)
    // the keeper is the min-doc_id max-quality member of its triple
    val q = graft.operators.TextAnalysis.qualityOf(
      graft.Tables.documents(spark, sf))
      .select("doc_id", "quality").collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) -1e9 else r.getDouble(1))).toMap
    rows.filter(_.getLong(1) == 3L).foreach { r =>
      val keeper = r.getLong(2)
      val grp = (keeper / 3 * 3) until (keeper / 3 * 3 + 3)
      val best = grp.map(q).max
      assert(q(keeper) == best)
      assert(grp.filter(d => q(d) == best).min == keeper)
      assert(r.getDouble(3) == best)
    }
  }
  test("CrawlPipeline.messyUrl agrees with the dedup_url column generator (r17)") {
    // the crawl-funnel gate feeds messyUrl(id) into the WARC corpus as
    // the target URI while its oracle replays UrlDedup.urlRawCte -- the
    // same CTE the column-expression generator mirrors; the two Scala
    // generators must therefore agree byte for byte on every doc
    val viaCols = graft.operators.UrlDedup.urlTable(spark, sf)
      .select("doc_id", "url").collect()
      .map(r => r.getLong(0) -> r.getString(1))
    assert(viaCols.nonEmpty)
    viaCols.foreach { case (id, u) =>
      assert(graft.operators.CrawlPipeline.messyUrl(id) == u, s"doc $id")
    }
  }
}
