package perfbench

import java.io.File
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import graft.GraftSession
import graft.service.DepositService

/** `service_mixed`: boot `DepositService` on an empty changelog directory
  * and drive it from this process with
  *  - 3 closed-loop writers, each owning a disjoint shard of wallets drawn
  *    Zipf(1.1), with client-pinned `ts_unix` (5 s apart per writer, so hot
  *    wallets cross 10,000 within 120 s); every POST carries an idempotency
  *    key, ~1% re-send an ACKed key and ~2% send `amount <= 0`;
  *  - 1 open-loop reader sending `GET /check` at a fixed 100/s, 90% to
  *    wallets of the shards and 10% to wallets that never exist, each read
  *    timed from its due time.
  * Afterwards every wallet is read once more and compared with the oracle
  * over its ACKed deposits. */
object ServiceMixed {
  val Writers = 3
  val ShardWallets = 200
  val ReadsPerSec = 100.0
  val WarmPosts = 7 // per writer, before the measured window opens

  final case class Op(kind: String, wallet: String, amount: Double, ts: Long, idem: String) {
    def body: String =
      s"""{"wallet_id":"$wallet","amount":$amount,"ts_unix":$ts,"idem":"$idem"}"""
  }

  def main(argv: Array[String]): Unit = {
    val args = Args.parse(argv)
    val tracer = new Tracer(args.trace)
    val t0 = Clock.now()
    tracer.on = args.trace
    val spark = tracer.span("session.create")(GraftSession.local("perfbench-service"))
    val sessionS = Clock.now() - t0
    spark.sparkContext.setLogLevel("WARN")
    val recorder = new EngineRecorder(tracer)
    if (args.trace) recorder.register(spark)
    Scope.set(spark, "streaming") // inherited by the micro-batch threads
    val logDir = new File(args.work, "changelog")
    val tb = Clock.now()
    val svc = tracer.span("service.boot")(new DepositService(spark, 0, Some(logDir.getPath)))
    val bootS = Clock.now() - tb
    tracer.on = false
    val port = svc.boundPort

    val posts = new ConcurrentLinkedQueue[Map[String, Any]]()
    val acked = Array.fill(Writers)(ArrayBuffer.empty[Op])
    val done = new AtomicInteger(0)
    @volatile var stop = false
    val firstOpEpoch = Clock.epoch()
    val writers = (0 until Writers).map { w =>
      new Thread(() => {
        val rnd = new scala.util.Random(args.seed * 1000003L + w)
        val zipf = new Zipf(ShardWallets, 1.1)
        val conn = new Conn(port)
        var ts = 1700000000L + w
        var n = 0
        while (!stop) {
          val r = rnd.nextDouble()
          val wallet = s"s${w}_${zipf.sample(rnd)}"
          val op =
            if (r < 0.02) Op("bad", wallet, -rnd.nextInt(100).toDouble, ts, s"k$w-$n")
            else if (r < 0.03 && acked(w).nonEmpty)
              acked(w)(rnd.nextInt(acked(w).size)).copy(kind = "dup")
            else Op("ok", wallet, 1 + rnd.nextInt(4000), ts, s"k$w-$n")
          if (op.kind != "dup") { ts += 5; n += 1 }
          val traced = tracer.on
          val send = Clock.now()
          val (status, body) =
            try tracer.span("service.post", op.idem)(conn.post(op.body))
            catch { case _: java.io.IOException | _: java.net.http.HttpTimeoutException => (-1, "") }
          val end = Clock.now()
          val good = op.kind match {
            case "ok"  => status == 200 && body.contains("\"ok\"")
            case "dup" => status == 200 && body.contains("\"duplicate\"")
            case _     => status == 422
          }
          if (op.kind == "ok" && good) acked(w) += op
          posts.add(Map("kind" -> op.kind, "send" -> send, "end" -> end,
            "status" -> status, "good" -> good, "traced" -> traced))
          done.incrementAndGet()
        }
      }, s"writer-$w")
    }
    writers.foreach(_.start())
    while (done.get() < Writers * WarmPosts) Thread.sleep(5)

    // Measured window: the reader's schedule defines it.
    val gets = ArrayBuffer.empty[Map[String, Any]]
    val winStart = Clock.now()
    val nReads = math.ceil(args.seconds * ReadsPerSec).toInt
    val readRnd = new scala.util.Random(args.seed * 7919L + 17)
    val reader = new Conn(port)
    var i = 0
    while (i < nReads) {
      val due = winStart + i / ReadsPerSec
      // Traced runs alternate 1 s traced / untraced slices.
      if (args.trace) tracer.on = ((due - winStart).toInt % 2) == 1
      val wait = due - Clock.now()
      if (wait > 0) Thread.sleep((wait * 1000).toLong, ((wait * 1e9) % 1e6).toInt)
      val unknown = readRnd.nextDouble() < 0.1
      val wallet =
        if (unknown) s"u_${readRnd.nextInt(1000000)}"
        else s"s${readRnd.nextInt(Writers)}_${readRnd.nextInt(ShardWallets)}"
      val traced = tracer.on
      val send = Clock.now()
      val (status, body) =
        try tracer.span("service.check", wallet)(reader.check(wallet))
        catch { case _: java.io.IOException | _: java.net.http.HttpTimeoutException => (-1, "") }
      val end = Clock.now()
      val good = status == 200 && (!unknown ||
        Oracle.mismatch(wallet, status, body, Nil).isEmpty)
      gets += Map("due" -> due, "send" -> send, "end" -> end, "status" -> status,
        "good" -> good, "traced" -> traced)
      i += 1
    }
    val winEnd = winStart + nReads / ReadsPerSec
    stop = true
    tracer.on = false
    writers.foreach(_.join())

    // Outcome check: every wallet (and a sample of unknown ones) against
    // the oracle over the deposits the service ACKed, in ACK order.
    val byWallet = acked.flatten.groupBy(_.wallet)
    val wallets = (0 until Writers).flatMap(w => (0 until ShardWallets).map(k => s"s${w}_$k")) ++
      (0 until 50).map(k => s"never_$k")
    val checker = new Conn(port)
    val mismatches = wallets.flatMap { wlt =>
      val (status, body) = checker.check(wlt)
      Oracle.mismatch(wlt, status, body,
        byWallet.get(wlt).toSeq.flatten.map(o => (o.amount, o.ts)))
    }
    if (args.trace) recorder.drain(spark)
    val heap = Host.retainedHeapMb()
    val host = Host.calibrate()
    Json.write(args.out, Map(
      "first_op_epoch" -> firstOpEpoch,
      "session_create_s" -> sessionS, "boot_s" -> bootS,
      "window" -> Map("start" -> winStart, "end" -> winEnd),
      "posts" -> posts.asScala.toSeq, "gets" -> gets.toSeq,
      "check" -> Map("wallets" -> wallets.size, "mismatches" -> mismatches.size,
        "examples" -> mismatches.take(5)),
      "log_bytes" -> new File(logDir, "deposits.jsonl").length(),
      "heap_mb" -> heap, "host" -> host,
      "engine" -> (if (args.trace) recorder.toMap else Map.empty)))
    tracer.write(new File(args.work, "spans.jsonl"))
    svc.stop()
    spark.stop()
  }
}
