package graftbench

import java.time.{Instant, LocalDate, ZoneId, ZoneOffset}

/** One Telegram message as the generator made it. */
final case class Msg(
    messageId: Long, userId: Long, firstName: String, isBot: Boolean,
    chatId: Long, date: Long, text: Option[String])

/** One webhook delivery: a POST body and what it carries.
  * `kind` is message, redelivery, edited, corrupt or wrong_chat;
  * `deliverAt` is the epoch second at which the update reached the
  * webhook, which fixes its raw-zone day when it is staged.
  */
final case class Delivery(updateId: Long, kind: String, msg: Option[Msg],
    body: String, deliverAt: Long) {
  /** Passes the ingest routing filter (`message.chat.id == chat`). */
  def routed(chat: Long): Boolean =
    (kind == "message" || kind == "redelivery") && msg.exists(_.chatId == chat)
  /** A body the ETL cannot flatten (unparseable or no `message`). */
  def reject: Boolean = kind == "edited" || kind == "corrupt"
}

/** Seeded Telegram update generator built from the `events` and
  * `documents` tables only. Every event becomes one message in the
  * routed chat; faults are injected with fixed shares: redeliveries,
  * `edited_message` updates, corrupt bodies, wrong-chat messages, null
  * text, and late deliveries that cross São Paulo midnight.
  */
object TelegramGen {
  val Chat = -1001234567890L
  val OtherChat = -1009876543210L
  val PipelineTz: ZoneId = ZoneId.of("America/Sao_Paulo")
  private val Names = Vector("Ana", "Bruno", "Carla", "Diego", "Elisa",
    "Fábio", "Gabi", "Heitor", "Iara", "João", "Karina", "Luís", "Marta")
  private val Extra = Vector("olá", "ação", "café", "não", "ok", "👍")

  final case class Event(id: Long, tsSec: Long, userId: Long, eventType: String)

  def msgJson(m: Msg, envelope: String, updateId: Long, editDate: Option[Long] = None): String = {
    val text = m.text.map(t => s""","text":${Json.str(t)}""").getOrElse("")
    val edit = editDate.map(d => s""","edit_date":$d""").getOrElse("")
    s"""{"update_id":$updateId,"$envelope":{"message_id":${m.messageId},""" +
      s""""from":{"id":${m.userId},"is_bot":${m.isBot},"first_name":${Json.str(m.firstName)}},""" +
      s""""chat":{"id":${m.chatId},"type":"group"},"date":${m.date}$edit$text}}"""
  }

  /** Deliveries for every event, in delivery order. */
  def deliveries(events: Seq[Event], docs: IndexedSeq[String], seed: Long): Vector[Delivery] = {
    val rnd = new java.util.Random(seed * 1000003L + 17L)
    var nextId = 500000000L
    def uid(): Long = { nextId += 1; nextId }
    val out = Vector.newBuilder[Delivery]
    events.foreach { e =>
      val words = docs((e.id % docs.size).toInt).split(' ')
      val k = 1 + rnd.nextInt(math.min(12, words.length))
      val base = words.take(k).mkString(" ")
      val text =
        if (e.eventType == "signup" || rnd.nextDouble() < 0.04) None
        else if (rnd.nextDouble() < 0.1) Some(base + " " + Extra(rnd.nextInt(Extra.size)))
        else Some(base)
      val user = 1000L + e.userId
      val chat = if (rnd.nextDouble() < 0.03) OtherChat else Chat
      val m = Msg(e.id, user, Names((e.userId % Names.size).toInt),
        e.userId % 11 == 7, chat, e.tsSec, text)
      // late deliveries (a phone coming back online) cross midnight
      val delay = if (rnd.nextDouble() < 0.03) 600L + rnd.nextInt(3 * 3600) else rnd.nextInt(4).toLong
      val at = e.tsSec + delay
      val u = uid()
      val body = msgJson(m, "message", u)
      out += Delivery(u, if (chat == Chat) "message" else "wrong_chat", Some(m), body, at)
      if (rnd.nextDouble() < 0.05) out += Delivery(u, "redelivery", Some(m), body, at + 1)
      if (rnd.nextDouble() < 0.04) {
        val eu = uid()
        out += Delivery(eu, "edited", Some(m),
          msgJson(m.copy(text = Some(text.getOrElse("") + " (edit)")), "edited_message", eu,
            Some(m.date + 60)), at + 2)
      }
      if (rnd.nextDouble() < 0.02) {
        val cu = uid()
        val whole = msgJson(m, "message", cu)
        out += Delivery(cu, "corrupt", None, whole.take(whole.length / 2), at + 3)
      }
    }
    out.result().sortBy(d => (d.deliverAt, d.updateId, d.kind))
  }

  def pipelineDay(epochSec: Long): LocalDate =
    Instant.ofEpochSecond(epochSec).atZone(PipelineTz).toLocalDate

  def utc(epochSec: Long) = Instant.ofEpochSecond(epochSec).atZone(ZoneOffset.UTC)
}
