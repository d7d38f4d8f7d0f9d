package e2ebench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.E2eBridge

import graft.{Caches, Sessions}

final case class Args(workload: String, data: String, work: String,
    seconds: Double, trace: Boolean, seed: Long, out: String, cpus: Int,
    clients: Int, copies: Int, setupRepeats: Int, malformed: Long,
    readbackSql: String)

object Args {
  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def get(k: String): String = m.getOrElse(k, sys.error(s"missing --$k"))
    Args(get("workload"), get("data"), get("work"), get("seconds").toDouble,
      get("trace") == "1", get("seed").toLong, get("out"), get("cpus").toInt,
      get("clients").toInt, get("copies").toInt, get("setup-repeats").toInt,
      get("malformed").toLong,
      new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(get("readback-sql"))), "UTF-8"))
  }
}

/** One executed op. Times are `System.nanoTime`; `checkS` is the time its
  * result check took after it. */
final case class OpRecord(id: Long, kind: Kind, client: Int, phase: String,
    start: Long, end: Long, error: String, outcome: Outcome,
    layers: Map[String, Double], checkS: Double) {
  def seconds: Double = (end - start) / 1e9
}

/** The benchmark process: starts a session, builds the workload's inputs,
  * warms every op kind up, then runs closed-loop clients for the given
  * seconds and writes every op's latency, result digest and (when
  * tracing) layer counters and spans to a JSON file. Result digests are
  * compared with the DuckDB oracle by `run.py`, after this process ends. */
object Harness {
  private val nextOp = new AtomicLong(0)
  private val records = new ConcurrentLinkedQueue[OpRecord]()

  private def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum / 1e3

  private def heapMb(): Double = {
    val r = Runtime.getRuntime
    (r.totalMemory() - r.freeMemory()) / 1048576.0
  }

  /** A memory field of this process's status (e.g. VmHWM, the peak
    * resident set), in MB. */
  private def statusMb(field: String): Double = {
    val f = java.nio.file.Paths.get("/proc/self/status")
    if (!java.nio.file.Files.exists(f)) 0.0
    else java.nio.file.Files.readAllLines(f).asScala
      .find(_.startsWith(field + ":"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024.0).getOrElse(0.0)
  }

  /** VmRSS once it stops falling: the collector hands the memory of a
    * shrunk heap back to the system in the background. Waits at most 10 s. */
  private def settledRssMb(): Double = {
    var last = statusMb("VmRSS")
    var i = 0
    var settled = false
    while (!settled && i < 50) {
      Thread.sleep(200)
      val now = statusMb("VmRSS")
      settled = last - now < 1.0
      last = now
      i += 1
    }
    last
  }

  /** Runs one op on the calling thread, then its result check. A
    * single-client workload also drops orphaned cached blocks after each
    * op (outside its latency); with concurrent clients that is unsafe, so
    * it happens between phases only. */
  private def runOp(w: Workload, k: Kind, client: Int, phase: String,
      t: Tracer): OpRecord = {
    val spark = w.spark
    val sc = spark.sparkContext
    val id = nextOp.incrementAndGet()
    sc.setJobGroup(s"op-$id", s"${k.name} ($phase)", interruptOnCancel = false)
    val gc0 = gcSeconds()
    var extra = Map.empty[String, Double]
    val t0 = System.nanoTime()
    val res =
      try Right(t.span(id, "op", k.name) {
        try k.run(spark, t, id)
        finally {
          if (t.on) extra = Map(
            "Caches.peak_bytes" ->
              sc.getRDDStorageInfo.map(i => (i.memSize + i.diskSize).toDouble).sum,
            "Caches.persisted_rdds" -> sc.getPersistentRDDs.size.toDouble)
          t.span(id, "Caches", "release")(Caches.release())
        }
      })
      catch { case e: Throwable => Left(e) }
    val t1 = System.nanoTime()
    sc.clearJobGroup()
    if (t.on) {
      extra ++= Map(
        "Caches.leftover_rdds" -> sc.getPersistentRDDs.size.toDouble,
        "jvm.gc_s" -> (gcSeconds() - gc0),
        "jvm.heap_after_mb" -> heapMb())
    }
    if (w.clients == 1)
      t.span(id, "Caches", "sweep")(Caches.sweepOrphans(spark, blocking = true))
    val c0 = System.nanoTime()
    val checked = res.flatMap(o =>
      try Right(k.check(spark, o)) catch { case e: Throwable => Left(e) })
    val checkS = (System.nanoTime() - c0) / 1e9
    val rec = checked match {
      case Right(o) => OpRecord(id, k, client, phase, t0, t1, "", o, extra ++ o.extra, checkS)
      case Left(e) =>
        System.err.println(s"[e2ebench] op $id ${k.name} failed: $e")
        OpRecord(id, k, client, phase, t0, t1,
          s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300),
          Outcome("", 0), extra, checkS)
    }
    records.add(rec)
    rec
  }

  /** Warm-up in rounds: in each round every client runs kinds in turn
    * (client c starts at kind c), so each round runs every kind at least
    * once, concurrently when the workload is concurrent. After at least
    * 2 and at most 8 rounds, it stops once every kind's median latency
    * moved by at most 15% from the round before, or once a round ends
    * after `capS` seconds of warm-up, not counting result checks.
    * Returns the time spent checking results. */
  private def warmUp(w: Workload, capS: Double): Double = {
    val t0 = System.nanoTime()
    val t = new Tracer(false)
    val ks = w.kinds
    val perClient = math.max(1, ks.size / w.clients)
    var prev = Map.empty[String, Double]
    var checkS = 0.0
    var round = 0
    var steady = false
    while (round < 2 || (round < 8 && !steady &&
        (System.nanoTime() - t0) / 1e9 - checkS < capS)) {
      val recs = new ConcurrentLinkedQueue[OpRecord]()
      val threads = (0 until math.min(w.clients, ks.size)).map { c =>
        val th = new Thread(() => (0 until perClient).foreach { j =>
          recs.add(runOp(w, ks((c + j * w.clients) % ks.size), c, "warmup", t))
        }, s"warmup-$c")
        th.start()
        th
      }
      threads.foreach(_.join())
      checkS += recs.asScala.map(_.checkS).sum / w.clients
      val cur = recs.asScala.toSeq.groupBy(_.kind.name).map { case (k, rs) =>
        val ts = rs.map(_.seconds).sorted
        k -> ts(ts.size / 2)
      }
      steady = prev.nonEmpty && cur.forall { case (k, v) =>
        prev.get(k).exists(p => math.abs(v - p) <= 0.15 * p)
      }
      prev = cur
      round += 1
    }
    checkS
  }

  /** Closed loop: each client starts its next op when its last one ends,
    * until `seconds` have passed, not counting the time it spent checking
    * results, and it has run at least two rounds. Returns the phase's wall
    * seconds, less the time clients spent checking results. */
  private def phase(w: Workload, seconds: Double, t: Tracer,
      name: String): Double = {
    val t0 = System.nanoTime()
    val deadline = t0 + (seconds * 1e9).toLong
    val first = records.size
    val threads = (0 until w.clients).map { c =>
      val th = new Thread(() => {
        val it = w.orders(c)
        var n = 0
        var checkNs = 0L
        while (n < 2 || System.nanoTime() - checkNs < deadline) {
          it.next().foreach { k =>
            checkNs += (runOp(w, k, c, name, t).checkS * 1e9).toLong
          }
          n += 1
        }
      }, s"client-$c")
      th.start()
      th
    }
    threads.foreach(_.join())
    val checkS = records.asScala.drop(first).map(_.checkS).sum
    (System.nanoTime() - t0) / 1e9 - checkS / w.clients
  }

  private val started = System.nanoTime()
  private def note(msg: String): Unit =
    System.err.println(f"[e2ebench] ${(System.nanoTime() - started) / 1e9}%.2fs $msg" +
      f" (peak RSS ${statusMb("VmHWM")}%.0f MB, heap ${Runtime.getRuntime.totalMemory / 1048576.0}%.0f MB)")

  def main(argv: Array[String]): Unit = {
    val a = Args.parse(argv)
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = Sessions.local(cpus = a.cpus.toString, logLevel = "ERROR")
    val sc = spark.sparkContext
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    note("session started")
    val w = Workload(spark, a)
    val built = w.prepare()
    note("inputs built")
    val w0 = System.nanoTime()
    val warmupChecksS = warmUp(w, capS = a.seconds)
    Caches.sweepOrphans(spark, blocking = true)
    val warmupS = (System.nanoTime() - w0) / 1e9 - warmupChecksS
    note("warmed up")
    val setup = Map(
      "session_s" -> sessionS,
      "replica_s" -> built.getOrElse("replica_s", 0.0),
      "csv_s" -> built.getOrElse("csv_s", 0.0),
      "warmup_s" -> warmupS)

    // A traced run measures untraced, traced and again untraced phases
    // (a quarter, a half and a quarter of the seconds), one after the
    // other. The listener is on in the traced phase only, so the untraced
    // phases on both sides of it are the baseline the tracing overhead
    // is read against.
    val off = new Tracer(false)
    val tracer = new Tracer(a.trace)
    val listener = new OpListener
    val baseMs = System.currentTimeMillis()
    val baseNs = System.nanoTime()
    val wall =
      if (!a.trace) phase(w, a.seconds, off, "timed")
      else {
        val before = phase(w, a.seconds / 4, off, "untraced")
        Caches.sweepOrphans(spark, blocking = true)
        sc.addSparkListener(listener)
        val traced = phase(w, a.seconds / 2, tracer, "traced")
        E2eBridge.drainListeners(sc)
        sc.removeSparkListener(listener)
        Caches.sweepOrphans(spark, blocking = true)
        before + traced + phase(w, a.seconds / 4, off, "untraced")
      }
    Caches.sweepOrphans(spark, blocking = true)
    note("timed phase done")

    // Peak RSS follows when the collector chose to grow the heap; the
    // resident set after a full collection, which shrinks the heap to fit
    // what is live, follows the memory the workload keeps.
    val rss = Map("peak_rss_mb" -> statusMb("VmHWM"),
      "rss_after_gc_mb" -> { System.gc(); settledRssMb() })

    val toNs = (ms: Long) => baseNs + (ms - baseMs) * 1000000L
    val all = records.asScala.toSeq.sortBy(_.id)
    val layers =
      if (!a.trace) (Map.empty[Long, Map[String, Double]], Seq.empty[Span])
      else Layers.perOp(all, tracer, listener, toNs, a.cpus)
    Report.write(a, setup, wall, rss, all, layers,
      tracer.spans, w.clients)
    note("report written")
    spark.stop()
    note("session stopped")
  }
}
