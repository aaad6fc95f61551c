package perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.Files
import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

/** `--key value` arguments shared by every benchmark main. */
final case class Args(work: File, seed: Long, seconds: Double, trace: Boolean,
                      rest: Map[String, String]) {
  def out: File = new File(work, "raw.json")
}

object Args {
  def parse(argv: Array[String]): Args = {
    val kv = argv.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.stripPrefix("--") -> v
    }.toMap
    Args(new File(kv("work")), kv.getOrElse("seed", "1").toLong,
      kv.getOrElse("seconds", "10").toDouble, kv.getOrElse("trace", "0") == "1", kv)
  }
}

object Json {
  val mapper: ObjectMapper = new ObjectMapper().registerModule(DefaultScalaModule)

  def write(f: File, value: Any): Unit =
    Files.write(f.toPath, mapper.writeValueAsBytes(value))

  def writeLines(f: File, values: Iterator[Any]): Unit = {
    val w = Files.newBufferedWriter(f.toPath, StandardCharsets.UTF_8)
    try values.foreach { v => w.write(mapper.writeValueAsString(v)); w.write("\n") }
    finally w.close()
  }
}

object Clock {
  def now(): Double = System.nanoTime() / 1e9
  /** Wall-clock seconds since the epoch, comparable across processes. */
  def epoch(): Double = System.currentTimeMillis() / 1e3
}

/** Host-condition probes, the same three Bench.scala takes: a register-only
  * ALU loop on one thread and on every core, and a single-threaded
  * streaming read over a 256 MiB array. They are run once per draw, after
  * the timed region, so a slow draw can be told apart from a slow host. */
object Host {
  @volatile private var sink = 0L

  private def burn(): Long = {
    var x = 1469598103934665603L; var i = 0
    while (i < 100000000) { x = x * 1099511628211L + i; i += 1 }
    x
  }

  private def membw(): Double = {
    val arr = new Array[Long](32 << 20)
    val t = System.nanoTime()
    var pass = 0
    while (pass < 8) {
      var i = 0; var s = 0L
      while (i < arr.length) { s += arr(i); i += 1 }
      sink += s; pass += 1
    }
    (System.nanoTime() - t) / 1e9
  }

  def calibrate(): Map[String, Double] = {
    val t1 = System.nanoTime(); sink += burn()
    val one = (System.nanoTime() - t1) / 1e9
    val ts = (1 to Runtime.getRuntime.availableProcessors).map(_ =>
      new Thread(() => { sink += burn() }))
    val t2 = System.nanoTime(); ts.foreach(_.start()); ts.foreach(_.join())
    val all = (System.nanoTime() - t2) / 1e9
    Map("calib_1t_s" -> one, "calib_allcore_s" -> all, "calib_membw_s" -> membw())
  }

  /** Heap still reachable after full collections, in MB. */
  def retainedHeapMb(): Double = {
    val rt = Runtime.getRuntime
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(50) }
    (rt.totalMemory() - rt.freeMemory()) / (1024.0 * 1024.0)
  }
}
