package graftbench

import graft.pipeline.{EtlJob, IngestJob, TelegramQueries}
import org.apache.spark.sql.SparkSession

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.time.LocalDate
import java.util.concurrent.atomic.AtomicInteger
import scala.jdk.CollectionConverters._

/** Closed-loop webhook client: `conns` threads, each with its own
  * HTTP/1.1 keep-alive connection, send the next body as soon as the
  * previous one is answered (Telegram's `setWebhook max_connections`
  * delivery model).
  */
object WebhookClient {
  final case class Result(latMs: Array[Double], status: Array[Int])

  def post(port: Int, path: String, bodies: IndexedSeq[Array[Byte]], conns: Int): Result = {
    val n = bodies.size
    val lat = new Array[Double](n)
    val st = new Array[Int](n)
    val next = new AtomicInteger()
    val uri = URI.create(s"http://127.0.0.1:$port$path")
    val threads = (0 until conns).map { c =>
      val t = new Thread(() => {
        val client = HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1).build()
        var i = next.getAndIncrement()
        while (i < n) {
          val req = HttpRequest.newBuilder(uri)
            .POST(HttpRequest.BodyPublishers.ofByteArray(bodies(i))).build()
          val s = System.nanoTime()
          st(i) = try client.send(req, HttpResponse.BodyHandlers.discarding()).statusCode()
                  catch { case _: Exception => -1 }
          lat(i) = (System.nanoTime() - s) / 1e6
          i = next.getAndIncrement()
        }
      }, s"pipebench-webhook-client-$c")
      t.start(); t
    }
    threads.foreach(_.join())
    Result(lat, st)
  }

  /** The client's own floor: the same client against a handler that
    * reads the body and answers 200 in a single write.
    */
  def floor(bodies: IndexedSeq[Array[Byte]], conns: Int): Result = {
    val server = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress(java.net.InetAddress.getLoopbackAddress, 0), 0)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(conns)
    server.setExecutor(pool)
    server.createContext("/floor", (ex: com.sun.net.httpserver.HttpExchange) =>
      try { ex.getRequestBody.readAllBytes(); ex.sendResponseHeaders(200, -1) }
      finally ex.close())
    server.start()
    try post(server.getAddress.getPort, "/floor", bodies, conns)
    finally { server.stop(0); pool.shutdownNow() }
  }
}

object TelegramDay {
  /** Raw days staged and ETL'd before the generated day: one week of
    * zone with it. The reference keeps a month; a week keeps the set-up
    * inside the run budget (each `EtlJob.run` costs about a second).
    */
  val BackfillDays = 6

  /** Rounds of Q1–Q5 set-up runs after the warm-up cycle. Query time
    * falls steeply over a JVM's first queries and slowly for hundreds
    * more (JIT); these rounds get past the steep part, and the measured
    * rounds are a fixed count, so every run measures the same stretch
    * of that curve whatever the host's speed.
    */
  val WarmRounds = 2

  /** Cycles measured per run; `cycle_s` is their median, which a cycle
    * that a burst of host load slowed does not move.
    */
  val MeasuredCycles = 3
}

/** The reference's dataflow end to end: webhook → file inbox → ingest
  * (`AvailableNow`) → raw zone → D-1 ETL → `telegram` table → Q1–Q5.
  *
  * Set-up stages the `BackfillDays` days before the generated day straight
  * into the raw zone and ETLs them. Each cycle then replays the generated day:
  * it POSTs the day's updates, drains ingest, ETLs every raw partition
  * ingest wrote (found by listing the zone), registers the table and
  * answers Q1–Q5. Before the next cycle the partitions the previous
  * cycle wrote are removed, so every cycle does the same work.
  */
final class TelegramDay(spark: SparkSession, work: Path, dataDir: String, seed: Long,
    report: Report, meter: Option[Meter], breakOracle: Boolean) {
  import TelegramGen.Chat

  val conns: Int = math.max(1, Runtime.getRuntime.availableProcessors())
  private val inbox = work.resolve("inbox")
  private val raw = work.resolve("raw")
  private val enriched = work.resolve("enriched")
  private val ckpt = work.resolve("ingest_ckpt")

  private var backfillRows = Seq.empty[TRow]
  private var cycleDeliveries = Vector.empty[Delivery]
  private var lastCycleDays = Seq.empty[String]
  var zone: TelegramOracle.Expected = _
  def cycleBodies: Vector[Array[Byte]] = cycleDeliveries.map(_.body.getBytes(UTF_8))

  // per-cycle numbers, one entry per measured cycle
  val cycleS, freshS, webS = collection.mutable.ArrayBuffer.empty[Double]
  val postLat = collection.mutable.ArrayBuffer.empty[Double]
  val qLat: Map[Int, collection.mutable.ArrayBuffer[Double]] =
    (1 to 5).map(_ -> collection.mutable.ArrayBuffer.empty[Double]).toMap
  val counts = collection.mutable.LinkedHashMap.empty[String, Double].withDefaultValue(0.0)

  private def listFiles(dir: Path): Seq[Path] =
    if (!Files.isDirectory(dir)) Nil
    else {
      val s = Files.list(dir)
      try s.iterator().asScala.filter { p =>
        val n = p.getFileName.toString
        Files.isRegularFile(p) && !n.startsWith(".") && !n.startsWith("_")
      }.toList finally s.close()
    }

  /** partition name → data files, by listing the zone. */
  private def partitions(zoneDir: Path): Map[String, Set[Path]] =
    if (!Files.isDirectory(zoneDir)) Map.empty
    else {
      val s = Files.list(zoneDir)
      try s.iterator().asScala
        .filter(p => Files.isDirectory(p) && p.getFileName.toString.startsWith("context_date="))
        .map(p => p.getFileName.toString.stripPrefix("context_date=") -> listFiles(p).toSet).toMap
      finally s.close()
    }

  private def rmTree(p: Path): Unit = if (Files.exists(p)) {
    val w = Files.walk(p)
    try w.sorted(java.util.Comparator.reverseOrder()).forEach(x => Files.deleteIfExists(x))
    finally w.close()
  }

  private def etlDay(day: LocalDate): (Long, Long) =
    EtlJob.run(spark, raw.toString, enriched.toString, day)

  private def layer[A](name: String, parent: Int)(f: => A): A = meter match {
    case Some(m) if m.attached => m.span(name, "layer", parent)(_ => f)
    case _ => f
  }

  /** Forget what earlier cycles and queries recorded. */
  def reset(): Unit = {
    Seq(cycleS, freshS, webS, postLat).foreach(_.clear())
    qLat.values.foreach(_.clear())
    counts.clear()
  }

  def setup(): Unit = {
    import spark.implicits._
    val ev = spark.read.parquet(s"$dataDir/events.parquet")
      .select("event_id", "ts", "user_id", "event_type").collect().map { r =>
        val ts = r.get(1) match {
          case t: java.time.LocalDateTime => t.toEpochSecond(java.time.ZoneOffset.UTC)
          case t: java.sql.Timestamp => t.getTime / 1000
        }
        TelegramGen.Event(r.getLong(0), ts, r.getLong(2), r.getString(3))
      }.toSeq.sortBy(_.id)
    val docs = spark.read.parquet(s"$dataDir/documents.parquet")
      .select("doc_id", "text").as[(Long, String)].collect().sortBy(_._1).map(_._2).toIndexedSeq
    val all = TelegramGen.deliveries(ev, docs, seed)
      .groupBy(d => TelegramGen.pipelineDay(d.deliverAt))
    val days = all.keys.toSeq.sorted
    cycleDeliveries = all(days.last)
    val backfill = days.dropRight(1).takeRight(TelegramDay.BackfillDays)
    val tStage = System.nanoTime()
    // Stage the backfill as an upstream writer that does not route would
    // have: every update of the chat, edited and corrupt ones included.
    backfill.foreach { d =>
      val part = all(d).filter(x => x.kind != "wrong_chat")
      val dir = Files.createDirectories(raw.resolve(s"context_date=$d"))
      Files.write(dir.resolve("part-00000-staged.json"),
        part.map(_.body).mkString("", "\n", "\n").getBytes(UTF_8))
      val (wantRows, wantRej) = TelegramOracle.etl(part, d)
      val (n, rej) = etlDay(d)
      report.op(n == wantRows.size && rej == wantRej,
        s"backfill ETL $d: rows $n/${wantRows.size}, rejects $rej/$wantRej")
      backfillRows ++= wantRows
    }
    EtlJob.registerTable(spark, enriched.toString)
    zone = new TelegramOracle.Expected(backfillRows)
    System.err.println(f"[pipebench] backfill of ${backfill.size} days: ${(System.nanoTime() - tStage) / 1e9}%.2f s")
    // warm-up: one whole cycle and WarmRounds rounds of queries, then forget them
    cycle(-1)
    for (_ <- 1 to TelegramDay.WarmRounds; n <- 1 to 5) query(n, record = false)
    reset()
  }

  /** Run one query, time it and check its result against the oracle. */
  def query(n: Int, record: Boolean): Double = {
    val t0 = System.nanoTime()
    val got = try TelegramQueries.sql(spark, n).collect() catch {
      case e: Exception => report.op(ok = false, s"Q$n failed: $e"); return Double.NaN
    }
    val ms = (System.nanoTime() - t0) / 1e6
    val err = TelegramOracle.check(n, got, zone)
    report.op(err.isEmpty, err.getOrElse(""))
    if (record) qLat(n) += ms
    ms
  }

  /** One replay of the generated day. */
  def cycle(parent: Int): Unit = {
    // undo the previous cycle: its raw and enriched partitions, its inbox files
    lastCycleDays.foreach { d =>
      rmTree(raw.resolve(s"context_date=$d")); rmTree(enriched.resolve(s"context_date=$d"))
    }
    listFiles(inbox).foreach(Files.delete)
    val before = partitions(raw)
    val bodies = cycleBodies

    val tStart = System.nanoTime()
    val server = IngestJob.webhookEndpoint(inbox.toString)
    val posted = try layer("pipeline.webhook", parent) {
      WebhookClient.post(server.getAddress.getPort, "/webhook", bodies, conns)
    } finally server.stop(0)
    val tAck = System.nanoTime()
    posted.status.zipWithIndex.foreach { case (s, i) =>
      report.op(s == 200, s"POST ${cycleDeliveries(i).updateId} answered $s")
    }
    postLat ++= posted.latMs
    counts("webhook.posts") += bodies.size
    counts("webhook.non_200") += posted.status.count(_ != 200)
    counts("webhook.inbox_files") += listFiles(inbox).size

    val q = layer("pipeline.ingest", parent) {
      val q = IngestJob.start(spark, inbox.toString, raw.toString, ckpt.toString, Chat)
      q.awaitTermination(); q
    }
    val tIngest = System.nanoTime()
    val progress = q.recentProgress.filter(_.numInputRows > 0)
    counts("ingest.batches") += progress.length
    counts("ingest.rows_in") += progress.map(_.numInputRows).sum
    counts("ingest.files_in") += listFiles(inbox).size

    // the partitions ingest wrote, found by listing the raw zone
    val after = partitions(raw)
    val written = after.collect { case (d, fs) if (fs -- before.getOrElse(d, Set.empty)).nonEmpty =>
      d -> (fs -- before.getOrElse(d, Set.empty)) }.toSeq.sortBy(_._1)
    lastCycleDays = written.map(_._1)
    val byId = cycleDeliveries.filter(_.routed(Chat)).groupBy(_.updateId).map { case (k, v) => k -> v.head }
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val landed = written.map { case (d, fs) =>
      val ids = fs.toSeq.flatMap(f => Files.readAllLines(f, UTF_8).asScala.filter(_.nonEmpty))
        .map(l => mapper.readTree(l).get("update_id").asLong())
      d -> ids
    }
    counts("ingest.files_out") += written.map(_._2.size).sum
    counts("ingest.rows_routed") += landed.map(_._2.size).sum
    val wantRouted = cycleDeliveries.filter(_.routed(Chat)).map(_.updateId).sorted
    report.op(landed.flatMap(_._2).sorted == wantRouted,
      s"ingest routed ${landed.map(_._2.size).sum} updates, expected ${wantRouted.size}")

    val cycleRows = layer("pipeline.etl", parent) {
      landed.map { case (d, ids) =>
        val day = LocalDate.parse(d)
        val (wantRows, wantRej) = TelegramOracle.etl(ids.flatMap(byId.get), day)
        val (n, rej) = etlDay(day)
        report.op(n == wantRows.size && rej == wantRej,
          s"cycle ETL $d: rows $n/${wantRows.size}, rejects $rej/$wantRej")
        counts("etl.rows_out") += n
        counts("etl.rejects") += rej
        counts("etl.dedup_collapsed") += ids.size - rej - n
        wantRows
      }.flatten
    }
    val tEtl = System.nanoTime()
    written.foreach { case (d, _) =>
      val fs = listFiles(enriched.resolve(s"context_date=$d")).filter(_.toString.endsWith(".parquet"))
      counts("etl.files_out") += fs.size
      counts("etl.bytes_out") += fs.map(Files.size(_)).sum
    }
    layer("pipeline.table", parent)(EtlJob.registerTable(spark, enriched.toString))
    val tReg = System.nanoTime()
    zone = new TelegramOracle.Expected(backfillRows ++ cycleRows)
    if (breakOracle) zone = new TelegramOracle.Expected(zone.rows.drop(1))
    layer("pipeline.queries", parent)((1 to 5).foreach(n => query(n, record = false)))
    val tEnd = System.nanoTime()

    def s(a: Long, b: Long) = (b - a) / 1e9
    cycleS += s(tStart, tEnd); freshS += s(tAck, tEnd); webS += s(tStart, tAck)
    System.err.println(f"[pipebench] cycle ${s(tStart, tEnd)}%.2f s: webhook ${s(tStart, tAck)}%.2f, " +
      f"ingest ${s(tAck, tIngest)}%.2f, etl ${s(tIngest, tEtl)}%.2f, register ${s(tEtl, tReg)}%.2f, " +
      f"Q1-Q5 ${s(tReg, tEnd)}%.2f")
  }

  /** Closed loop, one client: `rounds` rounds of Q1..Q5. */
  def queryLoop(parent: Int, rounds: Int): Unit =
    for (_ <- 1 to rounds; n <- 1 to 5)
      layer("pipeline.queries", parent)(query(n, record = true))
}
