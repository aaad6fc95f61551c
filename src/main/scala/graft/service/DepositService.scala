package graft.service

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong
import com.fasterxml.jackson.databind.ObjectMapper
import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import graft.model.{KeyedFlagEvent, TimedDeposit}
import graft.streaming.DepositStreams
import graft.streaming.DepositStreams.BalanceRow

/** The reference's two HTTP endpoints (/root/reference/service/service.go)
  * over the streaming engine:
  *
  *  - `POST /deposit` `{"wallet_id": w, "amount": a}` — reject
  *    `amount <= 0` with 422 (service.go:87-91), otherwise feed the deposit
  *    stream and ACK only after the micro-batch holding it commits (the
  *    analog of the blocking `EmitSync`, service.go:99). Concurrent POSTs
  *    GROUP COMMIT: the admitted requests waiting on the write path share
  *    one log fsync and one micro-batch per view, so the fixed per-batch
  *    cost is paid per group, not per deposit. Test hook: an optional
  *    `ts_unix` field pins processing time (the reference stamps wall
  *    clock, detector.go:57).
  *  - `GET /check/{wallet_id}` — balance ⟕ flag with unknown-wallet →
  *    `{balance: 0, above_threshold: false}` and HTTP 200 (SURVEY §2.3.6).
  *
  * Topology: one collector query and one detector query, each feeding a
  * KEYED SERVING VIEW through `foreachBatch` — the analog of the
  * reference's local LevelDB view (`view.Get`, service.go:128-133):
  * every committed micro-batch upserts only ITS OWN keys (LWW by
  * nDeposits / seq — the flagger's O7 discipline applied at write time),
  * and `GET /check` is two O(1) map reads with NO Spark job. Per-request
  * cost is therefore independent of table size; per-batch maintenance
  * cost is proportional to the keys the batch touched, never to the
  * accumulated state. On a cluster the same `foreachBatch` writes to an
  * external KV store (RocksDB service, Redis, Cassandra) — the lifecycle
  * (upsert-on-commit, last-writer-wins keyed rows) is identical; only
  * the map implementation changes. A JDK HttpServer stands in for the
  * reference's chi router.
  */
final class DepositService(spark: SparkSession, port: Int = 0,
                           changelogDir: Option[String] = None) {
  import spark.implicits._
  private implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

  private val mapper = new ObjectMapper()
  private val seq = new AtomicLong(0L)

  // The retained input log (the deposits TOPIC analog): every ACKed
  // deposit appends one JSON line before the engine absorbs it. At boot
  // the log replays through the fresh topology BEFORE the HTTP port
  // opens, so a restarted service re-materializes its serving views the
  // way the reference's do from the changelog topics
  // (/root/reference/service/service.go:43-53) — and, stronger, restores
  // the group-table STATE too (running balances, detector windows), so
  // post-restart writes keep accumulating instead of LWW-losing to
  // resurrected view rows. Scale posture: a production restart bootstraps
  // views from the COMPACTED changelog (cost O(live keys)) and operator
  // state from checkpoints; the in-process deterministic replay subsumes
  // both at O(retained log), which is the right trade for a single-JVM
  // serving cell.
  private val logFile = changelogDir.map { dir =>
    val d = new java.io.File(dir); d.mkdirs()
    new java.io.File(d, "deposits.jsonl")
  }

  // The serving views (view.Get analog). ConcurrentHashMap.merge makes the
  // LWW upsert atomic per key — the HTTP executor reads concurrently with
  // the streaming thread's batch commit.
  private val balanceView = new ConcurrentHashMap[String, BalanceRow]()
  private val flagView = new ConcurrentHashMap[String, KeyedFlagEvent]()

  private val input = MemoryStream[TimedDeposit]

  private val collectorQuery = DepositStreams.collector(spark, input.toDS())
    .writeStream.outputMode("update")
    .foreachBatch { (batch: Dataset[BalanceRow], _: Long) =>
      // collect() here is bounded by the keys THIS batch updated (update
      // mode emits changed keys only), not by the size of the view.
      batch.collect().foreach { r =>
        balanceView.merge(r.walletId, r,
          (old, nw) => if (nw.nDeposits >= old.nDeposits) nw else old)
      }
    }
    .start()

  private val detectorQuery = DepositStreams.detector(spark, input.toDS())
    .writeStream.outputMode("append")
    .foreachBatch { (batch: Dataset[KeyedFlagEvent], _: Long) =>
      batch.collect().foreach { r =>
        flagView.merge(r.walletId, r,
          (old, nw) => if (nw.seq >= old.seq) nw else old)
      }
    }
    .start()

  // Client-supplied idempotency keys already absorbed (rebuilt from the
  // log at boot): a retried POST whose key is present ACKs without
  // re-logging or re-ingesting, closing the retry-after-500 double-count
  // (appendToLog runs before the engine absorbs the event, so a failed
  // absorb leaves a logged deposit that WILL replay on restart — the
  // retry must not add a second copy). Deposits WITHOUT a key keep
  // at-least-once semantics. Memory is O(ACKed deposits) in this
  // single-JVM cell; a production serving fleet keeps the same key set
  // in its KV store alongside the views, compacted with the changelog.
  private val seenIdem = ConcurrentHashMap.newKeySet[String]()

  // Rebuild-on-start: replay the retained log (seq order) through the
  // running queries and only then open the port — the first GET a client
  // can issue already sees the pre-restart state (zero-mismatch contract,
  // asserted by DepositServiceSpec's restart scenario). A crash mid-append
  // leaves a torn FINAL line; since the ACK follows the flush, a final
  // unparseable record is by definition un-ACKed — skip it with a warning
  // (it is also truncated from the log so the next boot starts clean).
  // Corruption ANYWHERE ELSE still fails the boot loudly: mid-file damage
  // means ACKed history is gone, and serving a silently-shortened ledger
  // would be worse than refusing to start. Replay also dedupes by
  // idempotency key (first occurrence wins — the occurrence the client
  // was ACKed for, or will be on retry). The whole block stops the
  // already-started queries before rethrowing a refusal — a constructor
  // failure must not leak two running streams into the host JVM.
  try logFile.filter(_.isFile).foreach { f =>
    // REPLACE (not the default REPORT) on malformed bytes: a tear inside
    // a multi-byte UTF-8 character must reach the per-LINE torn-tail
    // handler as a garbled final line, not crash the read itself. Whole
    // mid-file lines are complete (a group's lines go out in one write
    // and one flush, and the next group starts only after it), so REPLACE
    // can only fire on the torn tail — or on real corruption, which then
    // fails the JSON parse loudly below. A crash mid-group tears at most
    // the group's FINAL line; the complete lines before it belong to
    // members that were never ACKed (the ACK follows the whole group's
    // commit) and replay at-least-once, exactly like a crash between a
    // single append and its ACK.
    val codec = scala.io.Codec.UTF8
      .onMalformedInput(java.nio.charset.CodingErrorAction.REPLACE)
      .onUnmappableCharacter(java.nio.charset.CodingErrorAction.REPLACE)
    val src = scala.io.Source.fromFile(f)(codec)
    val lines = try src.getLines().toVector finally src.close()
    val nonEmpty = lines.zipWithIndex.filter(_._1.nonEmpty)
    val parsed = nonEmpty.map { case (line, i) =>
      try {
        val n = mapper.readTree(line)
        Some((TimedDeposit(n.get("wallet_id").asText(), n.get("amount").asDouble(),
          n.get("ts_unix").asLong(), n.get("seq").asLong()),
          Option(n.get("idem")).filterNot(_.isNull).map(_.asText())
            .filter(_.nonEmpty)))
      } catch {
        case scala.util.control.NonFatal(e) =>
          if (i == lines.length - 1) {
            System.err.println(
              s"DepositService: dropping torn trailing log line ${i + 1} " +
                s"of ${f.getPath} (un-ACKed by construction): ${e.getMessage}")
            None
          } else throw new IllegalStateException(
            s"DepositService: corrupt changelog ${f.getPath} at line ${i + 1} " +
              "(mid-file, ACKed history) — refusing to boot on a damaged ledger", e)
      }
    }
    if (parsed.lastOption.contains(None) && nonEmpty.nonEmpty) {
      // Truncate the torn tail so the appended log stays line-parseable.
      // Stage the kept lines in a temp file, fsync, and atomically rename
      // over the log (the ReplayLog.writeManifest pattern): an in-place
      // rewrite would destroy ACKed history if this process died
      // mid-write, and the next boot would refuse to start on what it
      // reads as mid-file corruption.
      val keep = lines.take(nonEmpty.last._2)
      val tmp = java.io.File.createTempFile("changelog-", ".tmp", f.getParentFile)
      try {
        val out = new java.io.FileOutputStream(tmp)
        try {
          val w = new java.io.OutputStreamWriter(out, StandardCharsets.UTF_8)
          keep.foreach { l => w.write(l); w.write("\n") }
          w.flush()
          out.getFD.sync() // the rename must not publish an unflushed tail
        } finally out.close()
        java.nio.file.Files.move(tmp.toPath, f.toPath,
          java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      } catch {
        case t: Throwable =>
          // The boot still fails (correct — the log is torn and could
          // not be repaired), but don't leave staged temp debris to
          // accumulate across a crash-looping service.
          tmp.delete()
          throw t
      }
    }
    val fresh = parsed.flatten.filter { case (_, idem) =>
      idem.forall(seenIdem.add) // first occurrence per key wins
    }
    val replayed = fresh.map(_._1).sortBy(_.seq)
    if (replayed.nonEmpty) {
      input.addData(replayed)
      collectorQuery.processAllAvailable()
      detectorQuery.processAllAvailable()
      seq.set(replayed.map(_.seq).max) // LWW ordering survives the restart
    }
  } catch {
    case t: Throwable =>
      try collectorQuery.stop() catch { case scala.util.control.NonFatal(_) => () }
      try detectorQuery.stop() catch { case scala.util.control.NonFatal(_) => () }
      throw t
  }

  // Keep the raw FileOutputStream: the durability point below needs its
  // file descriptor for a real fsync, which a bare FileWriter hides.
  private val logStream = logFile.map(f =>
    new java.io.FileOutputStream(f, /*append=*/ true))
  private val logWriter = logStream.map(s =>
    new java.io.OutputStreamWriter(s, StandardCharsets.UTF_8))

  /** Appends one group's fresh deposits and makes them durable: one
    * write, one flush to the OS buffers and one `getFD.sync()` to stable
    * storage for the whole group — the ACKs that follow hold across
    * process AND OS/power failure (the full EmitSync contract, not just
    * the process-crash half). Only the group leader calls it, so appends
    * never interleave. */
  private def appendToLog(events: Seq[(TimedDeposit, Option[String])]): Unit =
    logWriter.zip(logStream).foreach { case (w, s) =>
      val lines = new StringBuilder
      events.foreach { case (d, idem) =>
        val n = mapper.createObjectNode()
        n.put("wallet_id", d.walletId); n.put("amount", d.amount)
        n.put("ts_unix", d.tsUnix); n.put("seq", d.seq)
        idem.foreach(n.put("idem", _))
        lines.append(mapper.writeValueAsString(n)).append('\n')
      }
      w.write(lines.toString); w.flush()
      s.getFD.sync()
    }

  /** One admitted POST on the write path. `outcome` is the HTTP answer,
    * set by the leader that committed the entry's group. */
  private final class Pending(val wallet: String, val amount: Double,
                              val ts: Long, val idem: Option[String]) {
    var outcome: Option[(Int, String)] = None // guarded by writeLock
  }

  /** Guards the group-commit hand-off: [[queued]], [[committing]] and every
    * [[Pending.outcome]]. It is held only to enqueue, to drain a group and
    * to publish its outcomes — never through the fsync or the micro-batch
    * commits, so the members of a finished group answer at once instead of
    * queueing behind the next group's commit. Declared (like every field
    * the handlers touch) BEFORE `server.start()` below — a request racing
    * the constructor tail must never observe a null field through the
    * already-open port. */
  private val writeLock = new Object
  /** Admitted POSTs not yet drained into a group, in arrival order. */
  private val queued = scala.collection.mutable.ArrayBuffer.empty[Pending]
  /** True while a leader commits its group: groups commit one at a time
    * (the reference topic's per-partition ordering), and the check-then-add
    * on [[seenIdem]] is race-free because only the leader touches it. */
  private var committing = false

  /** Write-admission bound: at most this many pool threads may be on the
    * write path at once (queued, leading or waiting for their group's
    * commit), which also bounds a group's size; excess POSTs are REJECTED
    * with 503 instead of consuming a thread. Without it, 8 concurrent
    * writers would occupy the whole pool through multi-hundred-ms commits
    * and GETs would queue behind write latency again — the regression the
    * pool exists to prevent. 503 + retry is safe for keyed clients
    * (idempotency) and honest backpressure for keyless ones (the deposit
    * was NOT accepted). */
  private val writePermits = new java.util.concurrent.Semaphore(4)

  DepositService.ensureNoDelay()
  private val server = HttpServer.create(new InetSocketAddress(port), 0)
  server.createContext("/deposit", (ex: HttpExchange) => handleDeposit(ex))
  server.createContext("/check/", (ex: HttpExchange) => handleCheck(ex))
  // Reads must not queue behind the write path: GET /check is two
  // lock-free ConcurrentHashMap reads, so a small pool serves them in
  // parallel while POSTs commit one group at a time (groups in order =
  // the reference topic's per-partition ordering; parallel lock-free
  // reads = its local view), with [[writePermits]] keeping half the pool
  // free for reads under any write load. Measured under
  // concurrent load (DepositServiceLoadSpec): with the single-dispatcher
  // default, GET p99 sat BEHIND in-flight micro-batch commits at ~10 s;
  // with the pool it is decoupled from write latency entirely.
  private val httpPool = java.util.concurrent.Executors.newFixedThreadPool(8)
  server.setExecutor(httpPool)
  server.start()

  def boundPort: Int = server.getAddress.getPort

  private def respond(ex: HttpExchange, code: Int, body: String): Unit = {
    val bytes = body.getBytes(StandardCharsets.UTF_8)
    ex.getResponseHeaders.set("Content-Type", "application/json")
    ex.sendResponseHeaders(code, bytes.length.toLong)
    ex.getResponseBody.write(bytes)
    ex.close()
  }

  private def handleDeposit(ex: HttpExchange): Unit =
    try {
      if (ex.getRequestMethod != "POST") { respond(ex, 405, """{"error":"POST only"}"""); return }
      if (!writePermits.tryAcquire()) {
        ex.getResponseHeaders.set("Retry-After", "1")
        respond(ex, 503, """{"error":"write path saturated, retry"}""")
        return
      }
      try handleDepositAdmitted(ex) finally writePermits.release()
    } catch {
      case _: Throwable => respond(ex, 500, """{"error":"internal"}""")
    }

  private def handleDepositAdmitted(ex: HttpExchange): Unit =
    try {
      val node = mapper.readTree(ex.getRequestBody)
      val wallet = Option(node.get("wallet_id")).map(_.asText()).getOrElse("")
      val amount = Option(node.get("amount")).map(_.asDouble()).getOrElse(0.0)
      if (wallet.isEmpty) { respond(ex, 400, """{"error":"wallet_id required"}"""); return }
      if (amount <= 0) { // service.go:87-91
        respond(ex, 422, """{"error":"amount must be positive"}"""); return
      }
      val ts = Option(node.get("ts_unix")).map(_.asLong())
        .getOrElse(System.currentTimeMillis() / 1000L)
      // filterNot(_.isNull): Jackson's NullNode.asText() is the STRING
      // "null" — an explicit {"idem": null} must mean "no key", not a
      // shared key that marks every later null-idem deposit duplicate.
      val idem = Option(node.get("idem")).filterNot(_.isNull)
        .map(_.asText()).filter(_.nonEmpty)
      val entry = new Pending(wallet, amount, ts, idem)
      // Leader/follower hand-off: wait while another leader commits; once
      // the entry is answered (its group committed) or no group is in
      // flight, stop waiting. An entry still unanswered then makes this
      // thread the leader of every entry queued so far.
      val group = writeLock.synchronized {
        queued += entry
        while (committing && entry.outcome.isEmpty) writeLock.wait()
        if (entry.outcome.nonEmpty) Vector.empty
        else { committing = true; val g = queued.toVector; queued.clear(); g }
      }
      if (group.nonEmpty) {
        val outcomes =
          try commitGroup(group)
          catch { case _: Throwable => group.map(_ => (500, """{"error":"internal"}""")) }
        writeLock.synchronized {
          group.zip(outcomes).foreach { case (p, o) => p.outcome = Some(o) }
          committing = false
          writeLock.notifyAll()
        }
      }
      val (code, body) = writeLock.synchronized(entry.outcome.get)
      respond(ex, code, body)
    } catch {
      case _: Throwable => respond(ex, 500, """{"error":"internal"}""")
    }

  /** Commits one group (leader only) and returns each member's answer.
    * Idempotent retry: a key already absorbed ([[seenIdem]]) or seen
    * earlier in this group is durable and will reach the views (this boot
    * or the next replay) — it answers `duplicate` without a second log
    * record or ingest, so a client that retries on 500/timeout cannot
    * double-count. Keyless POSTs are documented at-least-once. A throw
    * fails the whole group (500 to every member). */
  private def commitGroup(group: Vector[Pending]): Vector[(Int, String)] = {
    val groupKeys = scala.collection.mutable.Set.empty[String]
    val fresh = group.map { p =>
      if (p.idem.exists(k => seenIdem.contains(k) || !groupKeys.add(k))) None
      else Some(TimedDeposit(p.wallet, p.amount, p.ts, seq.incrementAndGet()))
    }
    val events = group.zip(fresh).collect { case (p, Some(e)) => (e, p.idem) }
    if (events.nonEmpty) {
      appendToLog(events) // log-then-absorb: a crash after this replays them
      input.addData(events.map(_._1))
      // Mark the keys seen only AFTER the engine holds the events: "seen"
      // must mean "durably logged AND absorbed this boot", or a retry
      // after a failure between append and addData would be ACKed as
      // duplicate while the views never ingest it until a restart
      // (read-your-writes silently broken for that key). A failure up to
      // here leaves every key unseen, so the retries re-append — the boot
      // replay dedupes on first-occurrence-per-key, keeping the views
      // exactly-once over an at-least-once log.
      groupKeys.foreach(seenIdem.add)
      // EmitSync analog: ack only once the engine has absorbed the group
      // — and, since the views update inside foreachBatch, once the
      // serving maps reflect it (read-your-writes for every ACK).
      collectorQuery.processAllAvailable()
      detectorQuery.processAllAvailable()
    }
    group.zip(fresh).map { case (p, e) =>
      (200, s"""{"wallet_id":"${p.wallet}","status":"${if (e.isEmpty) "duplicate" else "ok"}"}""")
    }
  }

  /** O8: the point lookup. Two keyed map reads — no scan, no job; the
    * same asymptotics as the reference's `view.Get` (service.go:128-133). */
  private def handleCheck(ex: HttpExchange): Unit =
    try {
      val wallet = ex.getRequestURI.getPath.stripPrefix("/check/")
      val balance = Option(balanceView.get(wallet)).map(_.balance).getOrElse(0.0)
      val flagged = Option(flagView.get(wallet)).exists(e => !e.flagRemoved)
      respond(ex, 200,
        s"""{"wallet_id":"$wallet","balance":$balance,"above_threshold":$flagged}""")
    } catch {
      case _: Throwable => respond(ex, 500, """{"error":"internal"}""")
    }

  def stop(): Unit = {
    server.stop(0)
    httpPool.shutdownNow()
    collectorQuery.stop()
    detectorQuery.stop()
    logWriter.foreach(_.close())
  }
}

object DepositService {
  // TCP_NODELAY on the serving socket: headers and body go out as two
  // small writes, and with Nagle on, a keep-alive client's next request
  // waits out the peer's delayed ACK — measured 44 ms per GET (the
  // classic 40 ms artifact) vs ~100 µs with it off. CAVEAT: the JDK's
  // ServerConfig reads this property ONCE in its static initializer, so
  // this only takes effect if no com.sun.net.httpserver server was
  // created earlier in the JVM — which is why it is set from a companion
  // initializer (runs before the first DepositService constructs its
  // server) rather than buried mid-constructor. A JVM that stood up an
  // unrelated HttpServer first keeps Nagle on; the latency probe in
  // ServeSmoke would surface that as ~44 ms lookups.
  private lazy val noDelaySet: Boolean = {
    System.setProperty("sun.net.httpserver.nodelay", "true")
    true
  }
  private[service] def ensureNoDelay(): Unit = { val _ = noDelaySet }
}
