package graft

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets
import java.time.LocalDate
import java.util.concurrent.{LinkedBlockingQueue, TimeUnit}

import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}
import org.scalatest.funsuite.AnyFunSuite

import graft.plans.{FreshnessCheck, NoopNotifier, BufferingNotifier, WebhookNotifier}

/** S14 — the webhook notifier: a REAL HTTP POST (reference
  * SlackNotifier.py:4-9), asserted against a local in-process server. */
class NotifierSpec extends AnyFunSuite {

  private case class Captured(method: String, contentType: String,
      body: String)

  /** Starts a one-shot capture server; returns (url, queue). */
  private def captureServer(): (HttpServer, String,
      LinkedBlockingQueue[Captured]) = {
    val q = new LinkedBlockingQueue[Captured]()
    val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/hook", new HttpHandler {
      def handle(ex: HttpExchange): Unit = {
        val body = new String(ex.getRequestBody.readAllBytes(),
          StandardCharsets.UTF_8)
        q.put(Captured(ex.getRequestMethod,
          ex.getRequestHeaders.getFirst("Content-Type"), body))
        ex.sendResponseHeaders(200, 2)
        ex.getResponseBody.write("ok".getBytes(StandardCharsets.UTF_8))
        ex.close()
      }
    })
    server.start()
    val url = s"http://127.0.0.1:${server.getAddress.getPort}/hook"
    (server, url, q)
  }

  test("WebhookNotifier POSTs the reference JSON body") {
    val (server, url, q) = captureServer()
    try {
      new WebhookNotifier(url, "cig-info-monitor", "graft-etl")
        .notify("PROD/Accounts is stale")
      val c = q.poll(10, TimeUnit.SECONDS)
      assert(c != null, "no request captured")
      assert(c.method == "POST")
      assert(c.contentType == "application/json")
      assert(c.body ==
        """{"text":"PROD/Accounts is stale","channel":"cig-info-monitor","username":"graft-etl"}""")
    } finally server.stop(0)
  }

  test("WebhookNotifier escapes quotes, newlines and control chars") {
    val (server, url, q) = captureServer()
    try {
      val n = new WebhookNotifier(url, "c", "u")
      n.notify("a\"b\\c\nd\tef")
      val c = q.poll(10, TimeUnit.SECONDS)
      assert(c != null)
      assert(c.body ==
        "{\"text\":\"a\\\"b\\\\c\\nd\\tef\",\"channel\":\"c\",\"username\":\"u\"}")
      // chars below 0x20 without a short escape take the \ u NNNN path
      assert(n.body("x" + 1.toChar + "y") ==
        "{\"text\":\"x\\u0001y\",\"channel\":\"c\",\"username\":\"u\"}")
    } finally server.stop(0)
  }

  test("fromEnv: no URL configured -> Noop; URL -> webhook with defaults") {
    assert(WebhookNotifier.fromEnv(Map.empty) eq NoopNotifier)
    val n = WebhookNotifier.fromEnv(
      Map("GRAFT_WEBHOOK_URL" -> "http://127.0.0.1:1/hook"))
    assert(n.isInstanceOf[WebhookNotifier])
    assert(n.asInstanceOf[WebhookNotifier].body("m") ==
      """{"text":"m","channel":"cig-info-monitor","username":"graft-etl"}""")
  }

  test("checkAndNotify posts one line per stale source over real HTTP") {
    val spark = TestSession.spark
    import spark.implicits._
    val latest = Seq(
      ("PROD", "Accounts", "2026-08-01"),
      ("PROD", "Orders", "2026-08-12"),
      ("ACC", "Accounts", "2026-07-15"))
      .toDF("environment", "source_name", "d")
      .selectExpr("environment", "source_name",
        "CAST(d AS DATE) AS latest_date")
    val (server, url, q) = captureServer()
    try {
      val n = new WebhookNotifier(url, "cig-info-monitor", "graft-etl")
      val stale = FreshnessCheck.checkAndNotify(spark, latest, Nil, Nil,
        LocalDate.parse("2026-08-12"), n)
      assert(stale.toSeq == Seq(
        ("ACC", "Accounts", "2026-07-15"),
        ("PROD", "Accounts", "2026-08-01")))
      val c = q.poll(10, TimeUnit.SECONDS)
      assert(c != null)
      assert(c.body.contains("Tables not up to date (2):"))
      assert(c.body.contains("ACC/Accounts latest=2026-07-15"))
      assert(c.body.contains("PROD/Accounts latest=2026-08-01"))
    } finally server.stop(0)
  }

  test("freshness monitor end-to-end: q17's stale set drives the webhook POST") {
    // the full EP3 wire: FreshnessCheck over the SAME data and rules as
    // the oracle-checked q17 query → real local-HTTP POST → the posted
    // table is exactly q17's rows. q17's timestamp cutoff
    // (latest_ts < 2024-01-29 00:00:00) is equivalent to the monitor's
    // date-granularity one (date(latest_ts) < 2024-01-29), and its
    // standing user exemptions are StaticRules with an epoch floor.
    val spark = TestSession.spark
    val dir = TestSession.sfDir("0.001")
    import org.apache.spark.sql.functions._
    val latest = graft.operators.EtlOps.events(spark, dir)
      .groupBy("user_id", "event_type").agg(max(col("ts")).as("latest_ts"))
      .select(col("user_id").cast("string").as("environment"),
        col("event_type").as("source_name"),
        to_date(col("latest_ts")).as("latest_date"))
    val eventTypes = latest.select("source_name").distinct()
      .collect().map(_.getString(0)).toSeq
    val statics = for {
      u <- Seq(3L, 7L, 11L, 13L); et <- eventTypes
    } yield FreshnessCheck.StaticRule(u.toString, et, LocalDate.EPOCH)

    val (server, url, q) = captureServer()
    val stale = try {
      val n = new WebhookNotifier(url, "cig-info-monitor", "graft-etl")
      FreshnessCheck.checkAndNotify(spark, latest, statics, Nil,
        LocalDate.parse("2024-01-29"), n)
    } finally ()
    val q17 = graft.SparkEntry.queries("q17_freshness_stale")(spark, dir)
      .collect()
      .map(r => (r.getLong(0).toString, r.getString(1),
        r.getString(2).take(10))) // date part of latest_ts
      .toSet
    try {
      assert(q17.nonEmpty)
      assert(stale.toSet == q17,
        s"monitor stale set diverged from q17: ${stale.toSet} vs $q17")
      val c = q.poll(10, TimeUnit.SECONDS)
      assert(c != null, "no webhook POST captured")
      // posted JSON table == q17 rows, one line each, count in header
      assert(c.body.contains(s"Tables not up to date (${q17.size}):"))
      q17.foreach { case (env, src, d) =>
        assert(c.body.contains(s"$env/$src latest=$d"),
          s"missing line for $env/$src latest=$d")
      }
    } finally server.stop(0)
  }

  test("freshness from the discovery walk: discover -> latestPerSource -> checkAndNotify") {
    // the EP3 input path: the same driver-side walk the ingest job runs.
    // Discovery only lists and parses paths, so the files stay empty.
    val spark = TestSession.spark
    val root = java.nio.file.Files.createTempDirectory("graft-fresh")
    Seq(
      "environment=PROD/Accounts/2026/08/01/a.parquet",
      "environment=PROD/Accounts/2026/08/12/b.parquet",
      "environment=PROD/Orders/2026/08/05/c.parquet",
      "environment=ACC/Accounts/2026/07/15/d.parquet",
      "environment=ACC/Orders/2026/08/10/e.parquet",
      // malformed (not an `environment=` root): read, it would make
      // ACC/Accounts fresh
      "env=ACC/Accounts/2026/08/12/f.parquet").foreach { rel =>
      val f = root.resolve(rel)
      java.nio.file.Files.createDirectories(f.getParent)
      java.nio.file.Files.createFile(f)
    }
    val files = graft.sources.Discovery.discover(root.toString, mailbox = false)
    assert(files.size == 5)
    val latest = FreshnessCheck.latestPerSource(spark, files)
    val buf = new BufferingNotifier
    val stale = FreshnessCheck.checkAndNotify(spark, latest, Nil,
      Seq(FreshnessCheck.GraceRule("PROD", "Orders", 7)),
      LocalDate.parse("2026-08-12"), buf)
    // PROD/Accounts: its later date wins; PROD/Orders: inside its grace
    assert(stale.toSeq == Seq(
      ("ACC", "Accounts", "2026-07-15"),
      ("ACC", "Orders", "2026-08-10")))
    assert(buf.messages.toSeq == Seq(
      "Tables not up to date (2):\n" +
        "ACC/Accounts latest=2026-07-15\n" +
        "ACC/Orders latest=2026-08-10"))
  }

  test("checkAndNotify stays silent when everything is fresh") {
    val spark = TestSession.spark
    import spark.implicits._
    val latest = Seq(("PROD", "Accounts", "2026-08-12"))
      .toDF("environment", "source_name", "d")
      .selectExpr("environment", "source_name",
        "CAST(d AS DATE) AS latest_date")
    val buf = new BufferingNotifier
    val stale = FreshnessCheck.checkAndNotify(spark, latest, Nil, Nil,
      LocalDate.parse("2026-08-12"), buf)
    assert(stale.isEmpty)
    assert(buf.messages.isEmpty)
  }
}
