package graft.frontend

import org.apache.spark.sql.Row

/** Minimal JSON value encoding shared by the HTTP serving layers
  * (REST proxy analog + Avatica endpoint): Spark row values to JSON
  * scalars/arrays/objects, with NaN/Infinity as strings (JSON has no
  * representation) and binary as base64. [[jstr]] is also the one string
  * escaper of the bench, soak and oracle records. */
private[graft] object JsonCodec {

  /** A JSON string literal: quote, backslash and every control character
    * (< 0x20) escaped, so the output always parses. */
  def jstr(s: String): String =
    "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  private[frontend] def jval(v: Any): String = v match {
    case null                   => "null"
    case s: String              => jstr(s)
    case b: Boolean             => b.toString
    case n: Byte                => n.toString
    case n: Short               => n.toString
    case n: Int                 => n.toString
    case n: Long                => n.toString
    case n: Float               => jnum(n.toDouble)
    case n: Double              => jnum(n)
    case d: java.math.BigDecimal => d.toPlainString
    case b: Array[Byte]         => jstr(java.util.Base64.getEncoder.encodeToString(b))
    case t: java.sql.Timestamp  => jstr(t.toInstant.toString)
    case d: java.sql.Date       => jstr(d.toString)
    case seq: scala.collection.Seq[_] => seq.map(jval).mkString("[", ",", "]")
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => jstr(String.valueOf(k)) + ":" + jval(x) }
        .mkString("{", ",", "}")
    case r: Row =>
      r.schema.fieldNames.zipWithIndex
        .map { case (n, i) => jstr(n) + ":" + jval(r.get(i)) }
        .mkString("{", ",", "}")
    case other => jstr(String.valueOf(other))
  }

  private def jnum(d: Double): String =
    if (d.isNaN || d.isInfinite) jstr(d.toString) else d.toString
}

/** Bounded request-body read for the hand-rolled HTTP endpoints. A
  * public wire that `readAllBytes()`s untrusted input lets any scanner
  * allocate the whole POST on the serving heap; real Avatica requests
  * (SQL text + bound parameters) and proxy statements are kilobytes,
  * so the cap is generous headroom, not a tuning knob. Over-cap bodies
  * refuse with the byte count — the caller's error path renders it as
  * a structured wire error, never an OOM. */
private[frontend] object WireIo {
  /** 8 MiB: orders of magnitude above any legitimate statement, orders
    * of magnitude below heap. */
  final val MaxRequestBytes: Int = 8 * 1024 * 1024

  /** Dedicated over-cap type so transports map refuse-to-413 by TYPE,
    * not by message-prefix matching (a reworded message must not
    * silently demote over-cap refusals to 500, and an unrelated IAE
    * must not masquerade as one). Extends IllegalArgumentException so
    * existing catch sites still treat it as a client mistake. */
  final class BodyTooLarge(cap: Int)
      extends IllegalArgumentException(
        s"request body exceeds $cap bytes; refusing to buffer it")

  def boundedBody(in: java.io.InputStream, cap: Int = MaxRequestBytes): Array[Byte] = {
    val bytes = in.readNBytes(cap + 1)
    if (bytes.length > cap) throw new BodyTooLarge(cap)
    bytes
  }

  /** Write one complete response: status, content type, body. */
  def send(
      ex: com.sun.net.httpserver.HttpExchange, status: Int, contentType: String,
      body: Array[Byte]): Unit = {
    ex.getResponseHeaders.set("Content-Type", contentType)
    ex.sendResponseHeaders(status, body.length)
    val os = ex.getResponseBody
    try os.write(body) finally os.close()
  }
}
