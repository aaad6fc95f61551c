package perfbench

import java.io.File
import graft.{GraftSession, SparkEntry}
import graft.operators.IndexCache

/** `query_mix`: a fixed list of registered queries over generated tables.
  * The first pass runs on an empty index root (artifact builds, model
  * training, first-touch table reads); warm passes follow until the run's
  * seconds are used, at least two (three in a traced run, which traces
  * every second pass). Each query is built through the `SparkEntry`
  * registry and its whole result written to parquet, so every output
  * column is computed. The first pass writes to `out_cold/`, the warm
  * passes to `out/`; the first pass's files and the last warm pass's, each
  * with the oracle SQL beside them, are what the DuckDB compare reads
  * after the run. */
object QueryMix {
  /** One query per batch family the ROADMAP names as a hot spot (basket,
    * graph, unigram and BPE training, native quality features, dedup, ANN),
    * four of which build or train `IndexCache` artifacts on their first run,
    * and two relational queries on the job floor; nine keep one run under a
    * minute on 4 cores. */
  val Names: Seq[String] = Seq(
    "q_market_basket", "q_triangle_count", "text_unigram_train", "text_bpe_train",
    "pipeline_quality_gate", "dedup_band_sweep", "sim_ivf_topk", "q9_product_profit",
    "o9_balance_from_history")

  def main(argv: Array[String]): Unit = {
    val args = Args.parse(argv)
    val data = args.rest("data")
    val tracer = new Tracer(args.trace)
    tracer.on = args.trace
    val t0 = Clock.now()
    val spark = tracer.span("session.create")(GraftSession.local("perfbench-queries"))
    val sessionS = Clock.now() - t0
    spark.sparkContext.setLogLevel("WARN")
    val recorder = new EngineRecorder(tracer)
    if (args.trace) recorder.register(spark)
    val registry = SparkEntry.queries
    tracer.on = false
    val outCold = new File(args.work, "out_cold")
    val outWarm = new File(args.work, "out")
    val firstOpEpoch = Clock.epoch()

    def pass(traced: Boolean, out: File): Seq[Map[String, Any]] = Names.map { name =>
      tracer.on = traced
      Scope.set(spark, s"queries.$name")
      recorder.scope = s"queries.$name"
      val before = IndexCache.forensicsSnapshot
      val tq = Clock.now()
      val (buildS, execS) = tracer.span("queries.query", name) {
        val tb = Clock.now()
        val df = tracer.span("queries.df_build", name)(registry(name)(spark, data))
        val te = Clock.now()
        tracer.span("queries.execute", name)(
          df.write.mode("overwrite").parquet(new File(out, name).getPath))
        (te - tb, Clock.now() - te)
      }
      val totalS = Clock.now() - tq
      if (traced) recorder.drain(spark)
      tracer.on = false
      val cache = IndexCache.forensicsSnapshot.toSeq.flatMap { case (k, v) =>
        val d = v - before.getOrElse(k, 0L)
        if (d != 0) Some(k.substring(k.lastIndexOf('.') + 1) -> d) else None
      }.groupMapReduce(_._1)(_._2)(_ + _)
      Map("name" -> name, "s" -> totalS, "build_s" -> buildS, "execute_s" -> execS,
        "cache" -> cache)
    }

    val cold = pass(traced = false, outCold)
    val warm = Seq.newBuilder[Seq[Map[String, Any]]]
    val warmStart = Clock.now()
    var n = 0
    while (n < (if (args.trace) 3 else 2) || Clock.now() - warmStart < args.seconds) {
      warm += pass(traced = args.trace && n % 2 == 1, outWarm)
      n += 1
    }

    val oracle = SparkEntry.oracleSql.filter { case (k, _) => Names.contains(k) }
    for (out <- Seq(outCold, outWarm)) Json.write(new File(out, "oracle_sql.json"), oracle)

    val heap = Host.retainedHeapMb()
    val host = Host.calibrate()
    Json.write(args.out, Map(
      "first_op_epoch" -> firstOpEpoch, "session_create_s" -> sessionS,
      "cold" -> cold, "warm" -> warm.result(), "heap_mb" -> heap, "host" -> host,
      "engine" -> (if (args.trace) recorder.toMap else Map.empty)))
    tracer.write(new File(args.work, "spans.jsonl"))
    spark.stop()
  }
}
