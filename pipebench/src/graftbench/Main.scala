package graftbench

import graft.Sessions

import java.nio.file.{Files, Paths}

/** The benchmark's JVM side. `run.py` generates the input tables and
  * calls it with:
  * {{{
  * --workload telegram_day|ops --seed N --seconds N
  * --trace 0|1 --data DIR --work DIR --result FILE --spans FILE
  * --gen-s SECONDS [--break-oracle]
  * }}}
  * It writes the run's report to `--result` (and, traced, the span tree
  * to `--spans`).
  */
object Main {
  private val OpsFields = Seq("wall_s", "jobs", "tasks", "driver_s", "executor_run_s",
    "shuffle_write_bytes", "retained_rdds")

  def main(args: Array[String]): Unit = {
    val a = args.sliding(2, 1).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val workload = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val traced = a("trace") == "1"
    val breakOracle = args.contains("--break-oracle")
    val work = Files.createDirectories(Paths.get(a("work")))
    val tMain = System.nanoTime()
    def since(t: Long) = (System.nanoTime() - t) / 1e9

    val cores = Runtime.getRuntime.availableProcessors()
    val spark = Sessions.local("pipebench", cores)
    System.err.println(f"[pipebench] session ${since(tMain)}%.2f s")
    val report = new Report
    val meter = if (traced) Some(new Meter(spark)) else None
    def e2e(k: String, v: Double, u: String) = report.e2e(k) = (v, u)
    def layer(k: String, v: Double, u: String) = report.layers(k) = (v, u)

    try {
      workload match {
        case "telegram_day" =>
          val td = new TelegramDay(spark, work, a("data"), seed, report, meter, breakOracle)
          td.setup()
          e2e("setup_s", a("gen-s").toDouble + since(tMain), "s")
          meter.foreach(_.attach())
          val root = meter.map(_.open(workload, "workload", -1)).getOrElse(-1)
          // Three cycles, each followed by a closed loop of Q1–Q5 rounds,
          // one round per 5 s of budget after each (a round takes about a
          // second on 4 cores): a fixed amount of work per run. Query time
          // still falls as the JVM warms, so a loop that ran to a deadline
          // would let a faster host also measure warmer queries, and
          // amplify the host's drift. Spreading the rounds over the whole
          // run keeps a burst of load on the shared host from landing on
          // all of them.
          val rounds = math.max(1, math.round(seconds / 5).toInt)
          val (cycleSpans, loopSpans) = (0 until TelegramDay.MeasuredCycles).map { i =>
            val id = meter.map(_.open(s"cycle$i", "cycle", root)).getOrElse(-1)
            td.cycle(id)
            meter.foreach(_.close(id))
            val loopId = meter.map(_.open(s"query_loop$i", "loop", root)).getOrElse(-1)
            td.queryLoop(loopId, rounds)
            meter.foreach(_.close(loopId))
            (id, loopId)
          }.unzip
          meter.foreach(_.close(root))
          val qAll = td.qLat.values.flatten.toSeq
          e2e("cycle_s", Stats.median(td.cycleS.toSeq), "s")
          e2e("query_p50_ms", Stats.q(qAll, 0.5), "ms")
          e2e("query_p95_ms", Stats.q(qAll, 0.95), "ms")
          System.err.println(f"[pipebench] ${td.cycleS.size} cycles, ${qAll.size} queries")
          meter.foreach { m =>
            val n = td.cycleS.size.toDouble
            val c = td.counts
            val cyc = cycleSpans.toSet
            layer("webhook.posts", c("webhook.posts") / n, "count")
            layer("webhook.non_200", c("webhook.non_200") / n, "count")
            layer("webhook.inbox_files", c("webhook.inbox_files") / n, "count")
            layer("webhook.files_per_post", c("webhook.inbox_files") / math.max(1.0, c("webhook.posts")), "ratio")
            layer("webhook.p50_ms", Stats.q(td.postLat.toSeq, 0.5), "ms")
            layer("webhook.p99_ms", Stats.q(td.postLat.toSeq, 0.99), "ms")
            layer("webhook.wall_s", Stats.median(td.webS.toSeq), "s")
            val floor = WebhookClient.floor(td.cycleBodies, td.conns)
            layer("webhook.client_floor_p50_ms", Stats.q(floor.latMs.toSeq, 0.5), "ms")
            val ing = m.layer("pipeline.ingest", cyc)
            layer("ingest.wall_s", ing.wallS / n, "s")
            for (k <- Seq("batches", "rows_in", "rows_routed", "files_in", "files_out"))
              layer(s"ingest.$k", c(s"ingest.$k") / n, "count")
            layer("ingest.routed_ratio", c("ingest.rows_routed") / math.max(1.0, c("ingest.rows_in")), "ratio")
            layer("ingest.jobs", ing.jobs / n, "count")
            layer("ingest.tasks", ing.tasks / n, "count")
            layer("ingest.executor_run_s", ing.executorRunS / n, "s")
            layer("ingest.driver_s", ing.driverS / n, "s")
            val etl = m.layer("pipeline.etl", cyc)
            layer("etl.wall_s", etl.wallS / n, "s")
            for (k <- Seq("rows_out", "rejects", "dedup_collapsed", "files_out"))
              layer(s"etl.$k", c(s"etl.$k") / n, "count")
            layer("etl.bytes_out", c("etl.bytes_out") / n, "bytes")
            layer("etl.jobs", etl.jobs / n, "count")
            layer("etl.tasks", etl.tasks / n, "count")
            layer("etl.gc_s", etl.gcS / n, "s")
            layer("etl.shuffle_write_bytes", etl.shuffleWriteBytes / n, "bytes")
            layer("etl.driver_s", etl.driverS / n, "s")
            layer("table.register_s", m.layer("pipeline.table", cyc).wallS / n, "s")
            layer("tg.freshness_s", Stats.median(td.freshS.toSeq), "s")
            for (i <- 1 to 5) layer(s"tq.q$i.p50_ms", Stats.q(td.qLat(i).toSeq, 0.5), "ms")
            val tq = m.layer("pipeline.queries", loopSpans.toSet)
            val nq = math.max(1, qAll.size).toDouble
            layer("tq.jobs_per_query", tq.jobs / nq, "count")
            layer("tq.files_read", tq.filesRead / nq, "count")
            layer("tq.scan_bytes", tq.scanBytes / nq, "bytes")
            val all = m.within(Set(root))
            layer("spark.cores_busy", all.executorRunS / (all.wallS * cores), "ratio")
            layer("spark.gc_s", all.gcS, "s")
            layer("trace.cycle_s", Stats.median(td.cycleS.toSeq), "s")
          }

        case "ops" =>
          val rows = Ops.Rows
          val ow = new OpsWorkload(spark, rows, a("data"), Files.createDirectories(work.resolve("out")),
            report, meter)
          ow.setup()
          report.rows = rows
          Files.writeString(work.resolve("out").resolve("oracle_sql.json"),
            graft.SparkEntry.oracleSql.filter { case (k, _) => rows.contains(k) }
              .map { case (k, v) => s"${Json.str(k)}:${Json.str(v)}" }.mkString("{", ",", "}"))
          e2e("setup_s", a("gen-s").toDouble + since(tMain), "s")
          meter.foreach(_.attach())
          val root = meter.map(_.open(workload, "workload", -1)).getOrElse(-1)
          // one pass per 15 s of budget, at least one: a fixed amount of work
          // per run, so the pass count never depends on the run's speed
          val passSpans = (0 until math.max(1, (seconds / 15).toInt)).map { i =>
            val id = meter.map(_.open(s"pass$i", "pass", root)).getOrElse(-1)
            ow.pass(id)
            meter.foreach(_.close(id))
            id
          }
          meter.foreach(_.close(root))
          val all = ow.rowMs.values.flatten.toSeq
          e2e("cycle_s", Stats.median(ow.passS.toSeq), "s")
          e2e("query_p50_ms", Stats.q(all, 0.5), "ms")
          e2e("query_p95_ms", Stats.q(all, 0.95), "ms")
          System.err.println(f"[pipebench] ${ow.passS.size} passes")
          meter.foreach { m =>
            val n = ow.passS.size.toDouble
            rows.foreach { q =>
              val s = m.layer(q, passSpans.toSet)
              layer(s"$q.wall_s", s.wallS / n, "s")
              layer(s"$q.jobs", s.jobs / n, "count")
              layer(s"$q.tasks", s.tasks / n, "count")
              layer(s"$q.driver_s", s.driverS / n, "s")
              layer(s"$q.executor_run_s", s.executorRunS / n, "s")
              layer(s"$q.shuffle_write_bytes", s.shuffleWriteBytes / n, "bytes")
              layer(s"$q.retained_rdds", ow.retainedRdds(q) / n, "count")
            }
            val whole = m.within(Set(root))
            layer("spark.cores_busy", whole.executorRunS / (whole.wallS * cores), "ratio")
            layer("spark.gc_s", whole.gcS, "s")
            layer("trace.cycle_s", Stats.median(ow.passS.toSeq), "s")
          }
        case other => sys.error(s"unknown workload $other")
      }

      // retained storage once the workload is over
      System.gc(); Thread.sleep(300); System.gc()
      val heapMib = java.lang.management.ManagementFactory.getMemoryMXBean
        .getHeapMemoryUsage.getUsed / 1048576.0
      e2e("retained_mib", heapMib, "MiB")
      if (traced) {
        layer("spark.retained_rdd_mib", spark.sparkContext.getRDDStorageInfo
          .map(i => i.memSize + i.diskSize).sum / 1048576.0, "MiB")
        meter.foreach(m => Files.writeString(Paths.get(a("spans")), m.spansJson()))
        fillAbsent(report)
      }
    } catch {
      case e: Throwable =>
        report.op(ok = false, s"run failed: $e")
        e.printStackTrace()
    } finally {
      Files.writeString(Paths.get(a("result")), report.json)
      spark.stop()
    }
  }

  /** Every workload reports every per-layer metric; a layer the
    * workload does not exercise reads 0.
    */
  private def fillAbsent(r: Report): Unit = {
    val names = Seq(
      "webhook.posts" -> "count", "webhook.non_200" -> "count", "webhook.inbox_files" -> "count",
      "webhook.files_per_post" -> "ratio", "webhook.p50_ms" -> "ms", "webhook.p99_ms" -> "ms",
      "webhook.wall_s" -> "s", "webhook.client_floor_p50_ms" -> "ms",
      "ingest.wall_s" -> "s", "ingest.batches" -> "count", "ingest.rows_in" -> "count",
      "ingest.rows_routed" -> "count", "ingest.routed_ratio" -> "ratio", "ingest.files_in" -> "count",
      "ingest.files_out" -> "count", "ingest.jobs" -> "count", "ingest.tasks" -> "count",
      "ingest.executor_run_s" -> "s", "ingest.driver_s" -> "s",
      "etl.wall_s" -> "s", "etl.rows_out" -> "count", "etl.rejects" -> "count",
      "etl.dedup_collapsed" -> "count", "etl.files_out" -> "count", "etl.bytes_out" -> "bytes",
      "etl.jobs" -> "count", "etl.tasks" -> "count", "etl.gc_s" -> "s",
      "etl.shuffle_write_bytes" -> "bytes", "etl.driver_s" -> "s",
      "table.register_s" -> "s", "tg.freshness_s" -> "s") ++
      (1 to 5).map(i => s"tq.q$i.p50_ms" -> "ms") ++
      Seq("tq.jobs_per_query" -> "count", "tq.files_read" -> "count", "tq.scan_bytes" -> "bytes") ++
      Ops.Rows.flatMap(q => OpsFields.map { f =>
        s"$q.$f" -> (if (f.endsWith("_s")) "s" else if (f.endsWith("bytes")) "bytes" else "count")
      }) ++
      Seq("spark.cores_busy" -> "ratio", "spark.gc_s" -> "s", "spark.retained_rdd_mib" -> "MiB",
        "trace.cycle_s" -> "s")
    val present = r.layers.clone()
    r.layers.clear()
    names.foreach { case (k, u) => r.layers(k) = present.getOrElse(k, (0.0, u)) }
  }
}
