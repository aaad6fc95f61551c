package graft.service

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSpec

/** Drives the HTTP surface end-to-end: the FIXTURES.md §B scenarios
  * through real POST/GET requests against the running service. */
class DepositServiceSpec extends AnyFunSuite with SparkSpec {

  private lazy val svc = new DepositService(spark)
  private lazy val base = s"http://localhost:${svc.boundPort}"
  private lazy val client = HttpClient.newHttpClient()

  private def post(body: String): HttpResponse[String] =
    client.send(HttpRequest.newBuilder(URI.create(s"$base/deposit"))
      .POST(HttpRequest.BodyPublishers.ofString(body)).build(),
      HttpResponse.BodyHandlers.ofString())

  private def check(wallet: String): String =
    client.send(HttpRequest.newBuilder(URI.create(s"$base/check/$wallet")).GET().build(),
      HttpResponse.BodyHandlers.ofString()).body()

  private def postOn(s: DepositService, body: String): HttpResponse[String] =
    client.send(HttpRequest.newBuilder(
        URI.create(s"http://localhost:${s.boundPort}/deposit"))
      .POST(HttpRequest.BodyPublishers.ofString(body)).build(),
      HttpResponse.BodyHandlers.ofString())

  private def checkOn(s: DepositService, wallet: String): String =
    client.send(HttpRequest.newBuilder(
        URI.create(s"http://localhost:${s.boundPort}/check/$wallet")).GET().build(),
      HttpResponse.BodyHandlers.ofString()).body()

  import DepositServiceSpec.withTempDir

  test("deposit -> check round trip flags at cumulative >= 10,000") {
    assert(post("""{"wallet_id":"alice","amount":2000,"ts_unix":1000}""").statusCode() == 200)
    assert(post("""{"wallet_id":"alice","amount":9000,"ts_unix":1060}""").statusCode() == 200)
    assert(check("alice") ==
      """{"wallet_id":"alice","balance":11000.0,"above_threshold":true}""")
  }

  test("amount <= 0 rejected with 422 (service.go:87-91)") {
    assert(post("""{"wallet_id":"bob","amount":-5}""").statusCode() == 422)
    assert(post("""{"wallet_id":"bob","amount":0}""").statusCode() == 422)
    // Nothing was ingested.
    assert(check("bob") ==
      """{"wallet_id":"bob","balance":0.0,"above_threshold":false}""")
  }

  test("unknown wallet returns zero values with HTTP 200 (SURVEY §2.3.6)") {
    assert(check("ghost") ==
      """{"wallet_id":"ghost","balance":0.0,"above_threshold":false}""")
  }

  test("reset-discard quirk over HTTP: deposit 130 s later is not counted") {
    assert(post("""{"wallet_id":"carol","amount":9000,"ts_unix":5000}""").statusCode() == 200)
    assert(post("""{"wallet_id":"carol","amount":9000,"ts_unix":5130}""").statusCode() == 200)
    // Balance keeps both; the counter reset means no flag.
    assert(check("carol") ==
      """{"wallet_id":"carol","balance":18000.0,"above_threshold":false}""")
  }

  test("malformed body and wrong method get clean errors") {
    assert(post("""not json at all""").statusCode() == 500)
    assert(post("""{"amount": 5}""").statusCode() == 400)
    val resp = client.send(HttpRequest.newBuilder(URI.create(s"$base/deposit")).GET().build(),
      HttpResponse.BodyHandlers.ofString())
    assert(resp.statusCode() == 405)
  }

  test("restart rebuilds the serving views from the retained log " +
    "with zero mismatches (service.go:43-53)") {
    withTempDir("svc_changelog") { dir =>
      val a = new DepositService(spark, changelogDir = Some(dir))
      assert(postOn(a, """{"wallet_id":"dave","amount":6000,"ts_unix":1000}""").statusCode() == 200)
      assert(postOn(a, """{"wallet_id":"dave","amount":5000,"ts_unix":1060}""").statusCode() == 200)
      assert(postOn(a, """{"wallet_id":"erin","amount":42.5,"ts_unix":2000}""").statusCode() == 200)
      val before = Seq("dave", "erin").map(w => w -> checkOn(a, w))
      assert(before.toMap.apply("dave").contains("\"above_threshold\":true"))
      a.stop()

      // A fresh process over the same changelog: every pre-restart answer
      // must be served identically before any new write arrives.
      val b = new DepositService(spark, changelogDir = Some(dir))
      try {
        before.foreach { case (w, expected) => assert(checkOn(b, w) == expected) }
        // And the restored STATE keeps accumulating: a post-restart deposit
        // adds to the replayed balance instead of restarting from zero.
        assert(postOn(b, """{"wallet_id":"erin","amount":1.5,"ts_unix":2050}""").statusCode() == 200)
        assert(checkOn(b, "erin") ==
          """{"wallet_id":"erin","balance":44.0,"above_threshold":false}""")
      } finally b.stop()
    }
  }

  test("a torn trailing log line (crash mid-append) is skipped at boot, " +
    "truncated, and mid-file corruption still fails loudly") {
    withTempDir("svc_torn") { dir =>
      val a = new DepositService(spark, changelogDir = Some(dir))
      assert(postOn(a, """{"wallet_id":"fred","amount":70,"ts_unix":1000}""").statusCode() == 200)
      a.stop()
      val log = new java.io.File(dir, "deposits.jsonl")
      // Simulate the crash: a partial record with no newline at the tail.
      val w = new java.io.FileWriter(log, true)
      w.write("""{"wallet_id":"fred","amou"""); w.close()
      // Boot must succeed, serve the ACKed prefix, and truncate the tear.
      val b = new DepositService(spark, changelogDir = Some(dir))
      try {
        assert(checkOn(b, "fred") ==
          """{"wallet_id":"fred","balance":70.0,"above_threshold":false}""")
        val lines = logLines(log)
        assert(lines.forall(_.contains("\"seq\"")), s"tear not truncated: $lines")
      } finally b.stop()
      // Mid-file damage is ACKed history: the boot must refuse.
      val kept = logLines(log)
      val w2 = new java.io.FileWriter(log, false)
      w2.write("CORRUPT\n"); kept.foreach { l => w2.write(l); w2.write("\n") }
      w2.close()
      val e = intercept[IllegalStateException] {
        new DepositService(spark, changelogDir = Some(dir))
      }
      assert(e.getMessage.contains("refusing to boot"))
    }
  }

  test("a tear inside a multi-byte UTF-8 character still recovers " +
    "(REPLACE codec reaches the line handler, no MalformedInput crash)") {
    withTempDir("svc_torn_utf8") { dir =>
      val a = new DepositService(spark, changelogDir = Some(dir))
      assert(postOn(a, """{"wallet_id":"hana","amount":55,"ts_unix":1000}""").statusCode() == 200)
      a.stop()
      val log = new java.io.File(dir, "deposits.jsonl")
      // Simulate a crash mid-append cutting a 2-byte UTF-8 char ("é") in
      // half: write the torn record's bytes up to the FIRST byte of é.
      val torn = """{"wallet_id":"ren""".getBytes("UTF-8") :+ 0xC3.toByte
      val out = new java.io.FileOutputStream(log, true)
      out.write(torn); out.close()
      val b = new DepositService(spark, changelogDir = Some(dir))
      try {
        assert(checkOn(b, "hana") ==
          """{"wallet_id":"hana","balance":55.0,"above_threshold":false}""")
      } finally b.stop()
    }
  }

  test("idempotency key: a retried POST neither double-logs nor " +
    "double-counts, in-process and across restart") {
    withTempDir("svc_idem") { dir =>
      val a = new DepositService(spark, changelogDir = Some(dir))
      val dep = """{"wallet_id":"gail","amount":30,"ts_unix":1000,"idem":"k-1"}"""
      assert(postOn(a, dep).statusCode() == 200)
      val retry = postOn(a, dep)
      assert(retry.statusCode() == 200 && retry.body().contains("duplicate"))
      assert(checkOn(a, "gail") ==
        """{"wallet_id":"gail","balance":30.0,"above_threshold":false}""")
      a.stop()
      // The key set survives the restart (rebuilt from the log): the same
      // retry against the fresh process is still refused as a duplicate.
      val b = new DepositService(spark, changelogDir = Some(dir))
      try {
        assert(postOn(b, dep).body().contains("duplicate"))
        assert(checkOn(b, "gail") ==
          """{"wallet_id":"gail","balance":30.0,"above_threshold":false}""")
      } finally b.stop()
    }
  }

  test("the same idempotency key sent twice concurrently: one ok, one " +
    "duplicate, one log line, counted once") {
    withTempDir("svc_idem_group") { dir =>
      val a = new DepositService(spark, changelogDir = Some(dir))
      try {
        val uri = URI.create(s"http://localhost:${a.boundPort}/deposit")
        def send(body: String) = client.sendAsync(HttpRequest.newBuilder(uri)
          .POST(HttpRequest.BodyPublishers.ofString(body)).build(),
          HttpResponse.BodyHandlers.ofString())
        // A leader commits an unrelated deposit while both copies queue
        // behind it, so the pair usually lands in ONE group (the in-group
        // duplicate); either way exactly one copy may be absorbed.
        val lead = send("""{"wallet_id":"ivan","amount":1,"ts_unix":1000}""")
        val dep = """{"wallet_id":"jill","amount":25,"ts_unix":1000,"idem":"k-twice"}"""
        val pair = Seq(send(dep), send(dep)).map(_.get(60, java.util.concurrent.TimeUnit.SECONDS))
        assert(lead.get(60, java.util.concurrent.TimeUnit.SECONDS).statusCode() == 200)
        assert(pair.forall(_.statusCode() == 200), pair.map(_.body()))
        assert(pair.map(r => if (r.body().contains("duplicate")) "duplicate" else "ok").sorted ==
          Seq("duplicate", "ok"), pair.map(_.body()))
        assert(logLines(new java.io.File(dir, "deposits.jsonl")).count(_.contains("k-twice")) == 1)
        assert(checkOn(a, "jill") ==
          """{"wallet_id":"jill","balance":25.0,"above_threshold":false}""")
      } finally a.stop()
    }
  }

  private def logLines(log: java.io.File): Vector[String] = {
    val src = scala.io.Source.fromFile(log)
    try src.getLines().toVector finally src.close()
  }

  override def withFixture(test: NoArgTest) =
    try super.withFixture(test)
    finally if (test.name.contains("malformed")) svc.stop()
}

object DepositServiceSpec {
  /** Runs `body` on a fresh temp directory and deletes it afterwards,
    * whatever the outcome. */
  def withTempDir[T](prefix: String)(body: String => T): T = {
    val dir = java.nio.file.Files.createTempDirectory(prefix).toFile
    try body(dir.getPath)
    finally graft.operators.Maintenance.deleteRecursively(dir)
  }
}
