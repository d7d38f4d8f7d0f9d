package e2ebench

import java.io.PrintWriter

import scala.jdk.CollectionConverters._

/** Turns the traced ops' spans and listener counters into per-op layer
  * metrics, named `<layer>.<metric>` after the engine module measured. */
object Layers {
  private val counterNames = Seq("jobs", "stages", "tasks", "task_s", "cpu_s",
    "task_gc_s", "input_bytes", "input_rows", "shuffle_write_bytes",
    "shuffle_read_bytes", "shuffle_fetch_wait_s", "spill_bytes",
    "output_bytes", "output_rows", "failed_tasks")

  /** Layer a span's self time is booked to; an op's own root span is the
    * harness. */
  private def layer(s: Span): String = if (s.layer == "op") "harness" else s.layer

  /** Per traced op: layer metrics. Also returns the job spans synthesised
    * from the listener, each a child of the span that was open on the
    * op's thread when the job started. */
  def perOp(records: Seq[OpRecord], tracer: Tracer, listener: OpListener,
      toNs: Long => Long, cores: Int): (Map[Long, Map[String, Double]], Seq[Span]) = {
    val byOp = tracer.spans.groupBy(_.op)
    val jobSpans = Seq.newBuilder[Span]
    val metrics = records.filter(_.phase == "traced").map { r =>
      val own = byOp.getOrElse(r.id, Nil)
      val root = own.find(_.layer == "op")
      val counters = Option(listener.ops.get(s"op-${r.id}"))
      val jobs = counters.toSeq.flatMap(_.jobs.asScala).map { case (s, e) =>
        val start = toNs(s)
        val parent = own.filter(p => p.layer != "op" && p.start <= start && start <= p.end)
          .sortBy(-_.start).headOption.orElse(root)
        Span(tracer.nextId(), parent.map(_.id).getOrElse(0L), r.id, "exec",
          "job", start, math.max(start, toNs(e)))
      }
      jobSpans ++= jobs
      val all = own ++ jobs
      val kids = all.groupBy(_.parent)
      val self = all.groupBy(layer).map { case (l, ss) =>
        s"self.${l}_s" -> ss.map { s =>
          val c = kids.getOrElse(s.id, Nil).map(k => (k.start.toDouble, k.end.toDouble))
          (s.end - s.start - Intervals.covered(c, s.start, s.end)) / 1e9
        }.sum
      }
      def dur(p: Span => Boolean) = own.filter(p).map(_.seconds).sum
      // Execution wall time: the actions the op ran plus any job started
      // outside them (eager jobs while the query was built).
      val busy = Intervals.merge((own.filter(s =>
        (s.layer == "exec" && s.name == "collect") || s.layer == "sources") ++ jobs)
        .map(s => (s.start.toDouble, s.end.toDouble)))
      val tasks = counters.toSeq.flatMap(_.tasks.asScala)
        .map { case (s, e) => (toNs(s).toDouble, toNs(e).toDouble) }
      val runS = busy.map { case (a, b) => b - a }.sum / 1e9
      val gapS = busy.map { case (a, b) =>
        b - a - Intervals.covered(tasks, a, b) }.sum / 1e9
      val c = counterNames.map(n => s"exec.$n" -> counters.map(_.get(n)).getOrElse(0.0)).toMap
      val eager = jobs.count(j => own.exists(p => p.id == j.parent && p.layer == "queries"))
      r.id -> (self ++ c ++ Map(
        "queries.build_s" -> dur(_.layer == "queries"),
        "queries.eager_jobs" -> eager.toDouble,
        "plans.plan_s" -> dur(_.layer == "plans"),
        "exec.run_s" -> runS,
        "exec.driver_gap_s" -> gapS,
        "exec.utilization" -> (if (runS > 0) c("exec.task_s") / (runS * cores) else 0.0),
        "exec.rows_per_result_row" ->
          c("exec.input_rows") / math.max(1L, r.outcome.rows),
        "sources.read_csv_s" -> dur(s => s.layer == "sources" && s.name == "read_csv"),
        "sources.write_s" -> dur(s => s.layer == "sources" && s.name == "write"),
        "Caches.release_s" -> dur(_.layer == "Caches")))
    }.toMap
    (metrics, jobSpans.result())
  }
}

/** Writes the harness's JSON result file. */
object Report {
  private def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= "\\u%04x".format(c.toInt)
      case c => b += c
    }
    (b += '"').toString
  }

  private def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else d.toString

  private def obj(m: Iterable[(String, String)]): String =
    m.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")

  private def nums(m: Map[String, Double]): String =
    obj(m.toSeq.sortBy(_._1).map { case (k, v) => k -> num(v) })

  def write(a: Args, setup: Map[String, Double], wall: Double,
      memoryMb: Map[String, Double], records: Seq[OpRecord],
      layers: (Map[Long, Map[String, Double]], Seq[Span]),
      spans: Seq[Span], clients: Int): Unit = {
    val (opLayers, jobSpans) = layers
    val base = if (records.isEmpty) 0L else records.map(_.start).min
    val ops = records.map { r =>
      obj(Seq(
        "id" -> r.id.toString,
        "kind" -> str(r.kind.name),
        "phase" -> str(r.phase),
        "client" -> r.client.toString,
        "start_s" -> num((r.start - base) / 1e9),
        "latency_s" -> num(r.seconds),
        "error" -> str(r.error),
        "problems" -> r.outcome.problems.map(str).mkString("[", ",", "]"),
        "check_s" -> num(r.checkS),
        "digest" -> str(r.outcome.digest),
        "rows" -> r.outcome.rows.toString,
        "fact_rows" -> r.kind.factRows.toString,
        "input" -> str(r.kind.input),
        "layers" -> nums(r.layers ++ opLayers.getOrElse(r.id, Map.empty))))
    }
    val spanJson = (spans ++ jobSpans).sortBy(_.id).map { s =>
      obj(Seq("id" -> s.id.toString, "parent" -> s.parent.toString,
        "op" -> s.op.toString, "layer" -> str(s.layer), "name" -> str(s.name),
        "start_s" -> num((s.start - base) / 1e9), "end_s" -> num((s.end - base) / 1e9)))
    }
    val w = new PrintWriter(a.out, "UTF-8")
    try w.print(obj(Seq(
      "workload" -> str(a.workload),
      "cores" -> a.cpus.toString,
      "clients" -> clients.toString,
      "setup" -> nums(setup),
      "wall_s" -> num(wall),
      "memory_mb" -> nums(memoryMb),
      "ops" -> ops.mkString("[", ",\n", "]"),
      "spans" -> spanJson.mkString("[", ",\n", "]"))))
    finally w.close()
  }
}
