package graftbench

import java.io.{BufferedInputStream, BufferedOutputStream, ByteArrayOutputStream,
  DataInputStream, DataOutputStream}
import java.net.Socket
import java.nio.charset.StandardCharsets.UTF_8

/** Minimal PostgreSQL v3 frontend: simple queries for statements without
  * parameters, and the extended protocol (Parse/Bind/Execute/Sync with
  * text-format parameters) for parameterized reads — the path a DB-API or
  * JDBC client takes. Counts bytes in both directions for the wire layer.
  */
final class Pg(port: Int) extends AutoCloseable {
  private val sock = new Socket("127.0.0.1", port)
  sock.setTcpNoDelay(true)
  private val in = new DataInputStream(new BufferedInputStream(sock.getInputStream))
  private val out = new DataOutputStream(new BufferedOutputStream(sock.getOutputStream))
  var bytesSent = 0L
  var bytesRecv = 0L
  /** Backend process id from BackendKeyData; names the server-side job group. */
  var pid: Int = -1

  final case class Result(rows: Vector[Vector[String]], error: String)

  private def send(kind: Char, body: Array[Byte]): Unit = {
    if (kind != 0) out.writeByte(kind)
    out.writeInt(body.length + 4)
    out.write(body)
    bytesSent += body.length + (if (kind != 0) 5 else 4)
  }
  private def body(f: DataOutputStream => Unit): Array[Byte] = {
    val b = new ByteArrayOutputStream
    val d = new DataOutputStream(b)
    f(d); d.flush(); b.toByteArray
  }
  private def cstr(d: DataOutputStream, s: String): Unit = {
    d.write(s.getBytes(UTF_8)); d.writeByte(0)
  }

  // StartupMessage, then read through ReadyForQuery
  send(0, body { d =>
    d.writeInt(196608)
    cstr(d, "user"); cstr(d, "bench"); cstr(d, "database"); cstr(d, "bench")
    d.writeByte(0)
  })
  out.flush()
  private val startup = readUntilReady()
  require(startup.error == null, s"startup failed: ${startup.error}")

  private def readUntilReady(): Result = {
    val rows = Vector.newBuilder[Vector[String]]
    var err: String = null
    var done = false
    while (!done) {
      val kind = in.readByte().toChar
      val len = in.readInt()
      val payload = new Array[Byte](len - 4)
      in.readFully(payload)
      bytesRecv += len + 1
      kind match {
        case 'D' =>
          val d = new DataInputStream(new java.io.ByteArrayInputStream(payload))
          val n = d.readShort()
          rows += Vector.fill(n.toInt) {
            val l = d.readInt()
            if (l < 0) null
            else { val b = new Array[Byte](l); d.readFully(b); new String(b, UTF_8) }
          }
        case 'E' =>
          // fields: type byte + cstring; keep the message ('M')
          val fields = new String(payload, UTF_8).split('\u0000')
          err = fields.find(_.startsWith("M")).map(_.drop(1)).getOrElse(fields.mkString(" "))
        case 'K' =>
          pid = java.nio.ByteBuffer.wrap(payload).getInt
        case 'Z' => done = true
        case _ => ()
      }
    }
    Result(rows.result(), err)
  }

  /** Simple-query protocol: one statement, no parameters. */
  def query(sql: String): Result = {
    send('Q', body(d => cstr(d, sql)))
    out.flush()
    readUntilReady()
  }

  /** Extended protocol: unnamed statement and portal, text parameters. */
  def execute(sql: String, params: Seq[String]): Result = {
    send('P', body { d => cstr(d, ""); cstr(d, sql); d.writeShort(0) })
    send('B', body { d =>
      cstr(d, ""); cstr(d, "")
      d.writeShort(0)
      d.writeShort(params.length)
      params.foreach { p =>
        val b = p.getBytes(UTF_8); d.writeInt(b.length); d.write(b)
      }
      d.writeShort(0)
    })
    send('E', body { d => cstr(d, ""); d.writeInt(0) })
    send('S', Array.emptyByteArray)
    out.flush()
    readUntilReady()
  }

  def close(): Unit = {
    try { send('X', Array.emptyByteArray); out.flush() } catch { case _: Exception => () }
    sock.close()
  }
}

object Pg {
  /** The statement text the server runs once it has bound `params`. */
  def inline(sql: String, params: Seq[String]): String =
    params.zipWithIndex.foldRight(sql) { case ((p, i), acc) =>
      acc.replace("$" + (i + 1), "'" + p.replace("'", "''") + "'")
    }
}
