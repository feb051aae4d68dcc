package graftbench

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import graft.api.BinaryProtocol
import graft.api.BinaryProtocol._

/** A loopback client for both of CliServer's wire protocols. The server
  * serves one connection at a time, so every request gets its own
  * connection, closed before the next one opens.
  */
final class Client(port: Int) {
  private val mapper = new ObjectMapper()

  private def connect[A](f: java.net.Socket => A): A = {
    val s = new java.net.Socket("127.0.0.1", port)
    try { s.setTcpNoDelay(true); f(s) } finally s.close()
  }

  /** One line-protocol request; (parsed response, response bytes). */
  def line(request: String): (JsonNode, Int) = connect { s =>
    val out = new java.io.PrintWriter(
      new java.io.OutputStreamWriter(s.getOutputStream, "UTF-8"), true)
    val in = new java.io.BufferedReader(
      new java.io.InputStreamReader(s.getInputStream, "UTF-8"))
    out.println(request)
    val resp = Option(in.readLine()).getOrElse(
      throw new java.io.IOException("connection closed without a response"))
    (mapper.readTree(resp), resp.getBytes("UTF-8").length + 1)
  }

  /** One binary-protocol request; (response type, payload). */
  def binary(msgType: Int, payload: Array[Byte]): (Int, Array[Byte]) =
    connect { s =>
      val out = new java.io.BufferedOutputStream(s.getOutputStream)
      writeMessage(out, msgType, payload)
      readMessage(new java.io.BufferedInputStream(s.getInputStream)) match {
        case Right((h, p)) => (h.msgType, p)
        case Left(e) => throw new java.io.IOException(s"bad binary response: $e")
      }
    }
}

object Client {
  /** Rows of a successful line response, or the server's error. */
  def rows(resp: JsonNode): Either[String, Seq[JsonNode]] =
    if (resp.path("ok").asBoolean(false)) {
      val it = resp.path("result").elements()
      val b = Seq.newBuilder[JsonNode]
      while (it.hasNext) b += it.next()
      Right(b.result())
    } else Left(resp.path("error").asText("malformed response"))

  def errorText(msgType: Int, payload: Array[Byte]): String =
    if (msgType == MsgType.ErrorResponse)
      decodeErrorResponse(payload).fold(identity, _.message)
    else f"unexpected response type 0x$msgType%04X"

  def idText(bytes: Array[Byte]): String = BinaryProtocol.blockIdText(bytes)
}
