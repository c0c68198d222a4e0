package perfbench

import java.nio.file.Paths

import scala.collection.mutable

/** Command line of one benchmark JVM (see `run.py`, which launches it). */
final case class Args(
    mode: String,
    cores: Int,
    seed: Long,
    seconds: Double,
    trace: Boolean,
    work: String,
    outDir: String,
    spansDir: String,
    runId: String,
    events: Long,
    reps: Int,
    dataDir: String,
    tiny: Boolean,
    corrupt: Boolean,
    regenPerRep: Boolean)

object Args {
  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def g(k: String, d: String) = m.getOrElse(k, d)
    Args(mode = m("mode"), cores = g("cores", "4").toInt, seed = g("seed", "1").toLong,
      seconds = g("seconds", "10").toDouble, trace = g("trace", "0") == "1",
      work = m("work"), outDir = g("out", m("work")),
      spansDir = g("spans", g("out", m("work"))), runId = g("run-id", "run"),
      events = g("events", "1000000").toLong, reps = g("reps", "1").toInt, dataDir = g("data", ""),
      tiny = g("tiny", "0") == "1", corrupt = g("corrupt", "0") == "1",
      regenPerRep = g("regen-per-rep", "1") == "1")
  }
}

/** What one JVM measured; printed as a single `PERFBENCH_RESULT` JSON line. */
final class Result {
  private val lines = mutable.ArrayBuffer.empty[String]
  private val failures = mutable.ArrayBuffer.empty[String]
  private val notes = mutable.ArrayBuffer.empty[String]
  private val samples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  private val seqs = mutable.LinkedHashMap.empty[String, Seq[Double]]
  private val single = mutable.LinkedHashMap.empty[String, Double]
  private val info = mutable.LinkedHashMap.empty[String, String]
  private var attempted = 0
  private var failedOps = 0

  def line(s: String): Unit = synchronized { lines += s; Console.err.println(s"[perfbench] $s") }
  def note(s: String): Unit = synchronized { notes += s; line(s) }
  def fail(s: String): Unit = synchronized { failures += s; failedOps += 1; line(s"FAIL $s") }
  def attempt(n: Int = 1): Unit = synchronized { attempted += n }
  def sample(k: String, v: Double): Unit = synchronized {
    samples.getOrElseUpdate(k, mutable.ArrayBuffer.empty) += v; ()
  }
  def seq(k: String, v: Seq[Double]): Unit = synchronized { seqs(k) = v }
  def metric(k: String, v: Double): Unit = synchronized { single(k) = v }
  def metrics(m: Map[String, Double]): Unit = synchronized { single ++= m; () }
  def put(k: String, v: String, raw: Boolean = false): Unit = synchronized {
    info(k) = if (raw) v else Json.str(v)
  }

  /** Write the spans, then print each layer's self time. */
  def trace(t: Tracer, a: Args): Unit = {
    val path = Paths.get(a.spansDir, s"spans-${a.runId}.jsonl")
    t.write(path)
    put("spans_file", path.toString)
    val self = t.selfTimes
    self.groupBy(_._1.takeWhile(_ != '.')).toSeq.sortBy(_._1).foreach { case (layer, m) =>
      line(f"self time layer=$layer%-8s ${m.values.sum}%10.1f ms  " +
        m.toSeq.sortBy(-_._2).take(6).map { case (k, v) => f"$k=$v%.0f" }.mkString(" "))
    }
  }

  def json: String = synchronized {
    val values = (samples.map { case (k, v) => k -> Stats.median(v.toSeq) } ++ single).toMap
    Json.obj(Seq(
      "attempted" -> attempted.toString,
      "failed" -> failedOps.toString,
      "failures" -> failures.map(Json.str).mkString("[", ",", "]"),
      "notes" -> notes.map(Json.str).mkString("[", ",", "]"),
      "lines" -> lines.map(Json.str).mkString("[", ",", "]"),
      "metrics" -> Json.nums(values),
      "seqs" -> Json.obj(seqs.toSeq.map { case (k, v) => k -> v.map(Json.num).mkString("[", ",", "]") }),
      "info" -> Json.obj(info.toSeq)))
  }
}

object Main {
  def main(argv: Array[String]): Unit = {
    val a = Args.parse(argv)
    val gcs = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
    val res = try {
      val r = a.mode match {
        case "bulk" => Bulk.run(a)
        case "live" => Live.run(a)
        case "ops" => Ops.run(a)
        case other => throw new IllegalArgumentException(s"unknown mode $other")
      }
      r.put("gc", gcs.toArray.map(_.asInstanceOf[java.lang.management.GarbageCollectorMXBean].getName).mkString("+"))
      r.put("heap_max_mb", Json.num(Runtime.getRuntime.maxMemory / 1048576.0), raw = true)
      r
    } catch {
      case e: Throwable =>
        e.printStackTrace()
        val r = new Result
        r.fail(s"${a.mode} aborted: $e")
        r
    }
    println("PERFBENCH_RESULT " + res.json)
    System.out.flush()
    System.err.flush()
    // Spark is stopped; skip the shutdown hooks (scratch-dir cleanup that
    // run.py does anyway by deleting the whole work dir) and any non-daemon
    // threads local-mode Spark leaves behind
    Runtime.getRuntime.halt(0)
  }
}
