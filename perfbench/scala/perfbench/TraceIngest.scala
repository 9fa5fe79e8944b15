package perfbench

import java.nio.charset.StandardCharsets.UTF_8

import graft.GraftEngine
import graft.model.NumericValidator
import graft.server.{ZestCodec, ZmtpCurve}
import graft.streaming.ObserveService

/** The traced half of `ingest`: spans around the public entry points of
  * each layer the ingest path crosses.
  *
  *  - `wire.json.hello_rtt`, `wire.zmtp_curve.hello_rtt`: `/hello` round
  *    trips against the running WireMain (no engine work)
  *  - `codec.zest_roundtrip`: `ZestCodec.encode` + `decode` of a POST frame
  *  - `crypto.curve_seal` / `crypto.curve_open`: `ZmtpCurve.Session`
  *  - `auth.token_check`: `Token.isValid`
  *  - `model.validate`: `NumericValidator.validate`
  *  - `observe.route`: `ObserveService.routeResponseLocal`, one data
  *    subscription on the `/ts/` wildcard, as in the workload
  *  - `engine.post`, `storage.ts_flush`, `storage.kv_flush`,
  *    `engine.kv_get`: one client's requests replayed through an
  *    in-process `GraftEngine` (write-behind every 64 rows, as WireMain)
  *    on a scratch store; a POST that fills its buffer is a flush
  *
  * Usage: TraceIngest <jsonPort> <binPort> <serverKey> <tokenKey> <spec.json>
  *                    <seconds> <scratchStore> <out-prefix>
  */
object TraceIngest {
  import Common.formats

  def main(args: Array[String]): Unit = {
    val Array(jsonPort, binPort, serverKey, tokenKey, specPath, secondsS,
      scratchStore, outPrefix) = args
    val spans = new Spans
    val token = graft.auth.Macaroons.serialize(graft.auth.Macaroons.mint(tokenKey, "perfbench"))
    val reps = 2000
    def loop(name: String, warm: Int = 500)(f: => Any): Unit = {
      (1 to warm).foreach(_ => f)
      (1 to reps).foreach(i => spans(name, i)(f))
    }
    val hello = Drive.Req("GET", "/hello", "", "json")
    val json = new Drive.JsonConn(jsonPort.toInt, token)
    loop("wire.json.hello_rtt", 200)(json.call(hello))
    json.close()
    val curve = new Drive.CurveConn(binPort.toInt,
      java.util.Base64.getDecoder.decode(serverKey), token)
    loop("wire.zmtp_curve.hello_rtt", 200)(curve.call(hello))
    curve.close()

    val payload = """{"value": 42.125, "room": "r3"}"""
    loop("codec.zest_roundtrip")(ZestCodec.decode(ZestCodec.encode(
      ZestCodec.request(2, "/ts/ing_c0_1/at/1735689600123", token = token, payload = payload))))
    val sk = ZmtpCurve.generate()
    val srv = new ZmtpCurve.ServerHandshake(sk)
    val cli = new ZmtpCurve.ClientHandshake(ZmtpCurve.generate(), sk.publicRaw)
    val (initiate, cont) = cli.onWelcome(srv.onHello(cli.hello()))
    val (ready, sSess, _, _) = srv.onInitiate(initiate)
    val cSess = cont(ready)._1
    val frame = ZestCodec.encode(ZestCodec.request(2, "/ts/ing_c0_1/at/1735689600123",
      token = token, payload = payload))
    val sealed_ = Array.fill(reps + 500)(Array.emptyByteArray)
    var k = 0
    loop("crypto.curve_seal") { sealed_(k) = cSess.sealMessage(0, frame); k += 1 }
    k = 0
    loop("crypto.curve_open") { sSess.openMessage(sealed_(k)); k += 1 }
    val ctx = Seq("path = /ts/ing_c0_1/at/1735689600123", "method = POST",
      "target = graft.local")
    loop("auth.token_check")(graft.auth.Token.isValid(token, tokenKey, ctx))
    loop("model.validate")(NumericValidator.validate(payload))
    val subs = Seq(ObserveService.Subscription("obs-1", "/ts/*", "json", "data",
      System.currentTimeMillis(), 0L))
    loop("observe.route")(ObserveService.routeResponseLocal(ObserveService.ObsEvent(
      System.currentTimeMillis(), "/ts/ing_c0_1/at/1735689600123", "json", payload,
      "POST", "client.local", 65), subs))

    // engine replay on a scratch store
    val spark = Common.session()
    val tsPath = s"$scratchStore/ts"
    val engine = new GraftEngine(spark, tsStoragePath = Some(tsPath),
      tokenSecretKey = Some(tokenKey), flushEveryRows = 64)
    val rounds = ((Common.readJson(specPath) \ "clients")(0) \ "rounds")
      .extract[List[List[Drive.Req]]]
    val fill = scala.collection.mutable.Map[String, Int]().withDefaultValue(0)
    def buffer(r: Drive.Req): String =
      if (r.path.startsWith("/ts/blob/")) "blob"
      else if (r.path.startsWith("/ts/")) "numeric"
      else if (r.path == "/cat" || r.format == "json") "kv_json" else "kv_text"
    var flushes = 0L
    val deadline = System.nanoTime() + (secondsS.toDouble * 1e9).toLong
    var id = 0L
    val it = rounds.iterator
    while (System.nanoTime() < deadline && it.hasNext) {
      it.next().foreach { r =>
        id += 1
        if (r.verb == "POST") {
          val b = buffer(r)
          fill(b) += 1
          val flushing = fill(b) % 64 == 0
          val name = if (!flushing) "engine.post"
            else if (b.startsWith("kv")) "storage.kv_flush" else "storage.ts_flush"
          if (flushing) flushes += 1
          val res = spans(name, id)(engine.postAuthed(token, r.path, r.payload, r.format))
          require(res.isRight, s"${r.path}: $res")
        } else if (r.path.startsWith("/kv/")) {
          spans("engine.kv_get", id)(engine.getAuthed(token, r.path, r.format))
        }
      }
    }
    val files = {
      val s = java.nio.file.Files.walk(java.nio.file.Paths.get(scratchStore))
      try s.filter(_.toString.endsWith(".parquet")).count() finally s.close()
    }
    spans.dump(s"$outPrefix.spans.jsonl")
    Common.writeJson(s"$outPrefix.json", Map("flushes" -> flushes, "files" -> files,
      "frame_bytes" -> frame.length, "payload" -> payload.getBytes(UTF_8).length))
    spark.stop()
  }
}
