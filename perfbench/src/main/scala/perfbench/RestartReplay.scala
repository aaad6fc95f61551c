package perfbench

import java.io.File
import scala.collection.mutable
import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration.Duration
import graft.GraftSession
import graft.service.DepositService

/** One cold restart for `restart_replay`: a fresh JVM builds its session
  * and constructs `DepositService` over an existing changelog, which
  * replays the whole log before the port opens. The launcher times from
  * process start to the `SESSION` line (set-up) and to the `BOUND` line
  * (the cold restart); this process then checks every wallet of the log
  * against the oracle through `GET /check`. */
object RestartReplay {
  def main(argv: Array[String]): Unit = {
    val args = Args.parse(argv)
    val logDir = new File(args.rest("log"))
    val tracer = new Tracer(args.trace)
    tracer.on = args.trace
    val t0 = Clock.now()
    val spark = tracer.span("session.create")(GraftSession.local("perfbench-replay"))
    val sessionS = Clock.now() - t0
    println("SESSION")
    System.out.flush()
    spark.sparkContext.setLogLevel("WARN")
    val recorder = new EngineRecorder(tracer)
    if (args.trace) recorder.register(spark)
    Scope.set(spark, "streaming")
    val tb = Clock.now()
    val svc = tracer.span("service.boot")(new DepositService(spark, 0, Some(logDir.getPath)))
    val bootS = Clock.now() - tb
    println(s"BOUND ${svc.boundPort}")
    System.out.flush()
    if (args.trace) recorder.drain(spark)
    tracer.on = false

    // Oracle over the log itself: first occurrence of each idempotency key,
    // then per wallet in (ts_unix, seq) order — the order one replay batch
    // applies them in.
    val seen = mutable.HashSet.empty[String]
    val byWallet = mutable.HashMap.empty[String, mutable.ArrayBuffer[(Double, Long, Long)]]
    val src = scala.io.Source.fromFile(new File(logDir, "deposits.jsonl"), "UTF-8")
    try src.getLines().filter(_.nonEmpty).foreach { line =>
      val n = Json.mapper.readTree(line)
      val idem = Option(n.get("idem")).map(_.asText())
      if (idem.forall(seen.add))
        byWallet.getOrElseUpdate(n.get("wallet_id").asText(), mutable.ArrayBuffer.empty) +=
          ((n.get("amount").asDouble(), n.get("ts_unix").asLong(), n.get("seq").asLong()))
    } finally src.close()
    val wallets = byWallet.keys.toSeq.sorted ++ (0 until 50).map(k => s"never_$k")
    val checks = wallets.grouped(wallets.size / 4 + 1).toSeq.map { part =>
      Future {
        val conn = new Conn(svc.boundPort)
        part.flatMap { w =>
          val (status, body) = conn.check(w)
          val deps = byWallet.get(w).toSeq.flatten.sortBy(d => (d._2, d._3)).map(d => (d._1, d._2))
          Oracle.mismatch(w, status, body, deps)
        }
      }
    }
    val mismatches = Await.result(Future.sequence(checks), Duration.Inf).flatten
    val heap = Host.retainedHeapMb()
    val host = Host.calibrate()
    Json.write(args.out, Map(
      "session_create_s" -> sessionS, "boot_s" -> bootS,
      "check" -> Map("wallets" -> wallets.size, "mismatches" -> mismatches.size,
        "examples" -> mismatches.take(5)),
      "deposits" -> byWallet.valuesIterator.map(_.size).sum,
      "heap_mb" -> heap, "host" -> host,
      "engine" -> (if (args.trace) recorder.toMap else Map.empty)))
    tracer.write(new File(args.work, "spans.jsonl"))
    svc.stop()
    spark.stop()
  }
}
