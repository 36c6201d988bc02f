package graftbench

import graft.SparkEntry
import org.apache.spark.sql.SparkSession

import java.nio.file.Path

/** The fixed list of operator-layer rows the `ops` workload runs,
  * reached through `SparkEntry.queries` and run with `.count()`:
  * PageRank (iterative checkpoints, many driver-scheduled jobs),
  * sessionization (the `streaming` module) and the persisted BM25 index
  * (write, then probe).
  */
object Ops {
  val Rows = Seq("q151_pagerank", "q33_sessionization", "q117_bm25_index")
}

/** Runs one list of rows. Set-up writes each row's full result once
  * for the oracle check, which also warms each row up; each pass then
  * times every row's `.count()` and checks it against the written row
  * count.
  */
final class OpsWorkload(spark: SparkSession, rows: Seq[String], dataDir: String,
    outDir: Path, report: Report, meter: Option[Meter]) {
  private val queries = SparkEntry.queries
  private val expectedRows = collection.mutable.Map.empty[String, Long]
  val rowMs: Map[String, collection.mutable.ArrayBuffer[Double]] =
    rows.map(_ -> collection.mutable.ArrayBuffer.empty[Double]).toMap
  val passS = collection.mutable.ArrayBuffer.empty[Double]

  def setup(): Unit = rows.foreach(writeResult)

  private def writeResult(q: String): Unit = {
    val t0 = System.nanoTime()
    val out = outDir.resolve(q).toString
    val ok = try {
      queries(q)(spark, dataDir).coalesce(1).write.mode("overwrite").parquet(out)
      expectedRows(q) = spark.read.parquet(out).count()
      true
    } catch { case e: Exception => report.op(ok = false, s"$q failed in set-up: $e"); false }
    if (ok) report.attempted += 1
    System.err.println(f"[pipebench] set-up $q%-26s ${(System.nanoTime() - t0) / 1e6}%9.1f ms")
  }

  // RDD id range each traced row call created, to attribute the
  // persisted RDDs still held at the end to the row that made them
  private val rddIds = collection.mutable.ArrayBuffer.empty[(String, Int, Int)]
  private def nextRddId(): Int = spark.sparkContext.emptyRDD[Int].id

  /** Persisted RDDs the traced calls of `q` left behind, once every
    * result is consumed and after `System.gc()`.
    */
  def retainedRdds(q: String): Int = {
    System.gc(); Thread.sleep(200)
    val held = spark.sparkContext.getPersistentRDDs.keySet
    rddIds.filter(_._1 == q).map { case (_, lo, hi) => held.count(id => id >= lo && id < hi) }.sum
  }

  /** One pass over the list; `parent` is the pass span when traced. */
  def pass(parent: Int): Unit = {
    var total = 0.0
    rows.foreach { q =>
      val traced = meter.exists(_.attached)
      val lo = if (traced) nextRddId() else 0
      val s = System.nanoTime()
      val n = try {
        meter match {
          case Some(m) if traced => m.span(q, "layer", parent)(_ => queries(q)(spark, dataDir).count())
          case _ => queries(q)(spark, dataDir).count()
        }
      } catch { case e: Exception => report.op(ok = false, s"$q failed: $e"); -1L }
      val ms = (System.nanoTime() - s) / 1e6
      rowMs(q) += ms
      System.err.println(f"[pipebench] $q%-26s $ms%9.1f ms")
      total += ms / 1e3
      if (n >= 0) report.op(expectedRows.get(q).contains(n),
        s"$q counted $n rows, its checked result has ${expectedRows.get(q)}")
      if (traced) rddIds += ((q, lo, nextRddId()))
    }
    passS += total
  }
}
