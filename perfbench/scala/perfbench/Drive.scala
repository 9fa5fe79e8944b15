package perfbench

import java.io._
import java.net.Socket
import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.json4s._
import org.json4s.jackson.JsonMethods

import graft.server.{ZestCodec, ZmtpCodec, ZmtpCurve}

/** The load generator: closed-loop clients over loopback against a running
  * `graft.server.WireMain`, one connection each, as ZestDB's REQ clients
  * are — every client waits for each reply before sending its next
  * request. Clients run whole rounds of the requests the spec lists until
  * the measured time is up; an optional data-mode observer records every
  * push it receives.
  *
  * Usage: Drive <spec.json> <ops-out.jsonl>
  *
  * Output lines: a header `{"warm_s":...,"start_epoch_ms":...,"measured_s":...,
  * "exhausted":bool}`, one line per operation
  * `{"c":client,"r":round,"i":index,"t0":ns,"t1":ns,"ok":bool,"warm":bool,"body":...}`
  * (warm-up rounds are numbered -1, -2, ...) and one per push
  * `{"push":message,"t":ns}`.
  */
object Drive {
  import Common.formats

  final case class Req(verb: String, path: String, payload: String, format: String)

  trait Conn {
    /** One round trip: (acknowledged, response body). */
    def call(r: Req): (Boolean, String)
    def close(): Unit
  }

  final class JsonConn(port: Int, token: String) extends Conn {
    private val sock = new Socket("127.0.0.1", port)
    sock.setTcpNoDelay(true)
    private val in = new BufferedReader(new InputStreamReader(sock.getInputStream, UTF_8))
    private val out = new PrintWriter(new OutputStreamWriter(sock.getOutputStream, UTF_8), false)
    def send(fields: (String, JValue)*): Unit = {
      out.print(JsonMethods.compact(JObject(fields.toList :+ ("token" -> JString(token)))))
      out.print('\n'); out.flush()
    }
    def readLine(): String = in.readLine()
    def call(r: Req): (Boolean, String) = {
      send("verb" -> JString(r.verb), "path" -> JString(r.path),
        "payload" -> JString(r.payload), "format" -> JString(r.format))
      val j = JsonMethods.parse(readLine())
      val body = j \ "body" match {
        case JString(s) => s
        case other => JsonMethods.compact(other)
      }
      ((j \ "status") == JString("ok"), body)
    }
    def close(): Unit = sock.close()
  }

  /** A ZMTP-CURVE REQ client: greeting, HELLO/WELCOME/INITIATE/READY via
    * the program's `ZmtpCurve.ClientHandshake`, then sealed zest frames.
    */
  final class CurveConn(port: Int, serverPub: Array[Byte], token: String,
                        socketType: String = "REQ") extends Conn {
    private val sock = new Socket("127.0.0.1", port)
    sock.setTcpNoDelay(true)
    private val out = new DataOutputStream(new BufferedOutputStream(sock.getOutputStream))
    private val in = new DataInputStream(new BufferedInputStream(sock.getInputStream))
    private def command(body: Array[Byte]): Unit = {
      ZmtpCodec.writeFrame(out, ZmtpCodec.FlagCommand, body); out.flush()
    }
    private def readBody(): Array[Byte] = ZmtpCodec.readFrame(in)._2
    private val session: ZmtpCurve.Session = {
      out.write(ZmtpCodec.greeting(asServer = false, "CURVE")); out.flush()
      val g = new Array[Byte](64); in.readFully(g)
      val hs = new ZmtpCurve.ClientHandshake(ZmtpCurve.generate(), serverPub, socketType)
      command(hs.hello())
      val (initiate, cont) = hs.onWelcome(readBody())
      command(initiate)
      cont(readBody())._1
    }
    def sendMessage(frames: Seq[Array[Byte]]): Unit = {
      frames.zipWithIndex.foreach { case (f, i) =>
        ZmtpCodec.writeFrame(out, 0,
          session.sealMessage(if (i < frames.length - 1) 1 else 0, f))
      }
      out.flush()
    }
    def readMessage(): Seq[Array[Byte]] = {
      val parts = Seq.newBuilder[Array[Byte]]
      var more = true
      while (more) {
        val (flags, payload) = session.openMessage(readBody())
        parts += payload
        more = (flags & 1) != 0
      }
      parts.result()
    }
    def call(r: Req): (Boolean, String) = {
      val code = r.verb match { case "GET" => 1; case "POST" => 2; case "DELETE" => 4 }
      sendMessage(Seq(Array.emptyByteArray, ZestCodec.encode(ZestCodec.request(code,
        r.path, format = ZestCodec.formatCode(r.format), token = token,
        payload = r.payload))))
      val f = ZestCodec.decode(readMessage().last)
      (f.code == 65 || f.code == 69 || f.code == 66, f.payloadString)
    }
    def close(): Unit = sock.close()
  }

  final case class Op(c: Int, r: Int, i: Int, t0: Long, t1: Long,
                      ok: Boolean, body: String, warm: Boolean)

  def main(args: Array[String]): Unit = {
    val Array(specPath, outPath) = args
    val spec = Common.readJson(specPath)
    // a caveat-free macaroon under the server's key: valid for every path
    val token = graft.auth.Macaroons.serialize(graft.auth.Macaroons.mint(
      (spec \ "token_key").extract[String], "perfbench"))
    val seconds = (spec \ "seconds").extract[Double]
    val jsonPort = (spec \ "json_port").extractOpt[Int]
    val binPort = (spec \ "bin_port").extractOpt[Int]
    val serverKey = (spec \ "server_key").extractOpt[String]
      .map(java.util.Base64.getDecoder.decode)
    def rounds(j: JValue): Vector[Vector[Req]] =
      j.extract[List[List[Req]]].map(_.toVector).toVector
    val clients = (spec \ "clients").children.map { c =>
      ((c \ "kind").extract[String], rounds(c \ "warmup"), rounds(c \ "rounds"))
    }
    val ops = new ConcurrentLinkedQueue[Op]()
    val pushes = new ConcurrentLinkedQueue[(String, Long)]()

    // the observer registers first so it sees every POST
    val observer = (spec \ "observer_path").extractOpt[String].map { p =>
      val o = new JsonConn(jsonPort.get, token)
      o.send("verb" -> JString("OBSERVE"), "path" -> JString(p),
        "mode" -> JString("data"), "maxAgeSec" -> JInt(0))
      val ack = JsonMethods.parse(o.readLine())
      require((ack \ "status") == JString("ok"), s"observe refused: $ack")
      val t = new Thread(() => {
        try {
          var line = o.readLine()
          while (line != null) {
            val now = System.nanoTime()
            JsonMethods.parse(line) \ "message" match {
              case JString(m) => pushes.add((m, now))
              case _ => ()
            }
            line = o.readLine()
          }
        } catch { case _: IOException => () }
      }, "observer")
      t.setDaemon(true); t.start()
      (o, t)
    }

    val conns: Seq[Conn] = clients.map {
      case ("json", _, _) => new JsonConn(jsonPort.get, token)
      case ("curve", _, _) => new CurveConn(binPort.get, serverKey.get, token)
      case (k, _, _) => sys.error(s"unknown client kind $k")
    }
    def runRound(ci: Int, ri: Int, round: Vector[Req], warm: Boolean): Unit =
      round.zipWithIndex.foreach { case (req, i) =>
        val t0 = System.nanoTime()
        val (ok, body) = conns(ci).call(req)
        ops.add(Op(ci, ri, i, t0, System.nanoTime(), ok, body, warm))
      }
    // warm-up: every client's warm rounds, untimed by the measured phase
    val warmT0 = System.nanoTime()
    val warmThreads = clients.indices.map { ci => new Thread(() =>
      clients(ci)._2.zipWithIndex.foreach { case (r, ri) => runRound(ci, -1 - ri, r, warm = true) })
    }
    warmThreads.foreach(_.start()); warmThreads.foreach(_.join())
    val warmS = Common.secs(warmT0)

    val startEpochMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val deadline = t0 + (seconds * 1e9).toLong
    val exhausted = new java.util.concurrent.atomic.AtomicBoolean(false)
    val threads = clients.indices.map { ci => new Thread(() => {
      val rs = clients(ci)._3
      var ri = 0
      while (System.nanoTime() < deadline && ri < rs.length) {
        runRound(ci, ri, rs(ri), warm = false); ri += 1
      }
      if (ri == rs.length) exhausted.set(true)
    })}
    threads.foreach(_.start()); threads.foreach(_.join())
    val measuredS = Common.secs(t0)
    // pushes of the last writes are still in flight: wait until the
    // observer has been quiet for a moment
    observer.foreach { case (o, _) =>
      var last = -1; var n = pushes.size
      while (n != last) { last = n; Thread.sleep(300); n = pushes.size }
      o.close()
    }
    conns.foreach(_.close())

    val w = new PrintWriter(new OutputStreamWriter(new FileOutputStream(outPath), UTF_8))
    def q(s: String) = JsonMethods.compact(JString(s))
    w.println(s"""{"warm_s":$warmS,"start_epoch_ms":$startEpochMs,"measured_s":$measuredS,"exhausted":${exhausted.get}}""")
    ops.asScala.foreach { o =>
      w.println(s"""{"c":${o.c},"r":${o.r},"i":${o.i},"t0":${o.t0},"t1":${o.t1},""" +
        s""""ok":${o.ok},"warm":${o.warm},"body":${q(o.body)}}""")
    }
    pushes.asScala.foreach { case (m, t) => w.println(s"""{"push":${q(m)},"t":$t}""") }
    w.close()
  }
}
