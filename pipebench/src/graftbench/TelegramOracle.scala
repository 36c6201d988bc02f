package graftbench

import java.time.LocalDate
import java.time.temporal.IsoFields

/** One expected row of the enriched `telegram` table. */
final case class TRow(messageId: Long, userId: Long, isBot: Boolean,
    firstName: String, chatId: Long, text: Option[String], date: Long,
    day: LocalDate) {
  def key: String = Seq(messageId, userId, isBot, firstName, chatId, "group",
    text.getOrElse("\u0000null"), date, day).mkString("|")
}

/** Plain-Scala oracle of the ETL and of Q1–Q5. It calls none of the
  * engine's functions: java.time gives the UTC hour, ISO day of week
  * and ISO week, and Q4 rounds half up in exact integer arithmetic as
  * Presto's CAST(double AS INT) does.
  */
object TelegramOracle {
  /** Expected enriched rows and reject count of one raw-zone day. */
  def etl(part: Seq[Delivery], day: LocalDate): (Seq[TRow], Long) = {
    val rows = part.filterNot(_.reject).flatMap(_.msg)
      .groupBy(m => (m.chatId, m.messageId)).values.map(_.head).toSeq
      .map(m => TRow(m.messageId, m.userId, m.isBot, m.firstName, m.chatId,
        m.text, m.date, day))
    (rows, part.count(_.reject).toLong)
  }

  def q2(rows: Seq[TRow]): Seq[(String, Long)] =
    rows.groupBy(_.day).toSeq.sortBy(_._1)(Ordering[LocalDate].reverse)
      .map { case (d, g) => (d.toString, g.size.toLong) }

  private def perUserDay(rows: Seq[TRow]) =
    rows.groupBy(r => (r.userId, r.firstName, r.day.toString))

  def q3(rows: Seq[TRow]): Map[(Long, String, String), Long] =
    perUserDay(rows).map { case (k, g) => k -> g.size.toLong }

  def q4(rows: Seq[TRow]): Map[(Long, String, String), Option[Int]] =
    perUserDay(rows).map { case (k, g) =>
      val lens = g.flatMap(_.text).map(t => t.codePointCount(0, t.length).toLong)
      k -> (if (lens.isEmpty) None
            else Some(((2 * lens.sum + lens.size) / (2L * lens.size)).toInt))
    }

  def q5(rows: Seq[TRow]): Seq[(Int, Int, Int, Long)] =
    rows.groupBy { r =>
      val t = TelegramGen.utc(r.date)
      (t.getHour, t.getDayOfWeek.getValue, t.get(IsoFields.WEEK_OF_WEEK_BASED_YEAR))
    }.toSeq.map { case ((h, d, w), g) => (h, d, w, g.size.toLong) }
      .sortBy { case (h, d, w, _) => (w, d, h) }

  /** Everything Q1–Q5 must return over a zone, precomputed once. */
  final class Expected(val rows: Seq[TRow]) {
    val keys: Set[String] = rows.map(_.key).toSet
    val q2v = q2(rows); val q3v = q3(rows); val q4v = q4(rows); val q5v = q5(rows)
  }

  private def str(v: Any): String = if (v == null) null else v.toString

  /** Compare one query result with the oracle; None when it matches. */
  def check(n: Int, got: Array[org.apache.spark.sql.Row], e: Expected): Option[String] = n match {
    case 1 =>
      val keys = got.map(r => Seq(r.getLong(0), r.getLong(1), r.getBoolean(2), r.getString(3),
        r.getLong(4), r.getString(5), Option(r.getString(6)).getOrElse("\u0000null"),
        r.getLong(7), str(r.get(8))).mkString("|"))
      if (got.length != math.min(10, e.rows.size)) Some(s"Q1 returned ${got.length} rows")
      else keys.find(k => !e.keys(k)).map(k => s"Q1 row not in the zone: $k")
    case 2 =>
      val g = got.toSeq.map(r => (str(r.get(0)), r.getLong(1)))
      if (g == e.q2v) None else Some(s"Q2 differs: ${g.take(3)} vs ${e.q2v.take(3)}")
    case 3 | 4 =>
      val days = got.toSeq.map(r => str(r.get(2)))
      val ordered = days.zip(days.drop(1)).forall { case (a, b) => a >= b }
      val g = got.toSeq.map(r => (r.getLong(0), r.getString(1), str(r.get(2))) ->
        (if (n == 3) r.getLong(3) else Option(r.get(3)).map(_.asInstanceOf[Int]))).toMap
      val want: Map[(Long, String, String), Any] = if (n == 3) e.q3v else e.q4v
      if (!ordered) Some(s"Q$n not ordered by context_date desc")
      else if (got.length != want.size || g != want) {
        val diff = want.find { case (k, v) => !g.get(k).contains(v) }
        Some(s"Q$n differs (${got.length} vs ${want.size} rows), first: $diff vs ${diff.flatMap(d => g.get(d._1))}")
      } else None
    case 5 =>
      val g = got.toSeq.map(r => (r.getInt(0), r.getInt(1), r.getInt(2), r.getLong(3)))
      if (g == e.q5v) None else Some(s"Q5 differs: ${g.size} vs ${e.q5v.size} rows")
  }
}
