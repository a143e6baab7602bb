package perfbench

import scala.collection.mutable
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Listener counters for the `spark.exec`, `queries.Artifacts` and
  * `streaming` layers. Everything is read from Spark's public listener
  * events; nothing runs inside the program.
  */
final class Counters extends SparkListener {
  private val c = mutable.HashMap[String, Double]().withDefaultValue(0.0)
  private val peak = mutable.HashMap[String, Double]().withDefaultValue(0.0)
  private val stageSubmitted = mutable.HashMap[(Int, Int), Long]()
  private val jobs = mutable.HashMap[Int, (Long, Boolean)]()
  private val lastState = mutable.HashMap[java.util.UUID, (Double, Double)]()

  private def add(k: String, v: Double): Unit = c(k) += v

  /** Running totals; peaks are reported as the highest value seen. */
  def snapshot(): Map[String, Double] = synchronized(c.toMap ++ peak.toMap)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    // Jobs started from inside `Artifacts.materialized` (its eager
    // localCheckpoint and anything the build forces on that thread)
    // carry its frame in the call site Spark records for each stage.
    val artifact = e.stageInfos.exists(s =>
      s.name.contains("Artifacts.scala") || s.details.contains("graft.queries.Artifacts"))
    jobs(e.jobId) = (e.time, artifact)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    add("spark.jobs", 1)
    jobs.remove(e.jobId).foreach { case (t0, artifact) =>
      if (artifact) add("artifacts.build_ms", (e.time - t0).toDouble)
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val s = e.stageInfo
    stageSubmitted((s.stageId, s.attemptNumber())) =
      s.submissionTime.getOrElse(System.currentTimeMillis())
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    add("spark.stages", 1)
    stageSubmitted.remove((e.stageInfo.stageId, e.stageInfo.attemptNumber()))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    add("spark.tasks", 1)
    stageSubmitted.get((e.stageId, e.stageAttemptId)).foreach { t =>
      add("spark.task_wait_ms", math.max(0L, e.taskInfo.launchTime - t).toDouble)
    }
    val m = e.taskMetrics
    if (m != null) {
      add("spark.task_run_ms", m.executorRunTime.toDouble)
      add("spark.task_cpu_ns", m.executorCpuTime.toDouble)
      add("spark.task_gc_ms", m.jvmGCTime.toDouble)
      add("spark.shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
      add("spark.shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
      add("spark.spill_bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
      peak("spark.peak_exec_mem_bytes") =
        math.max(peak("spark.peak_exec_mem_bytes"), m.peakExecutionMemory.toDouble)
    }
  }

  val streams: StreamingQueryListener = new StreamingQueryListener {
    import StreamingQueryListener._
    def onQueryStarted(e: QueryStartedEvent): Unit = Counters.this.synchronized {
      add("streaming.replays", 1)
    }
    def onQueryProgress(e: QueryProgressEvent): Unit = Counters.this.synchronized {
      val p = e.progress
      add("streaming.micro_batches", 1)
      val d = p.durationMs
      for ((key, name) <- Seq("addBatch" -> "add_batch_ms", "walCommit" -> "wal_commit_ms",
          "commitOffsets" -> "commit_offsets_ms", "latestOffset" -> "latest_offset_ms",
          "queryPlanning" -> "query_planning_ms", "triggerExecution" -> "trigger_ms"))
        if (d.containsKey(key)) add(s"streaming.$name", d.get(key).toDouble)
      add("streaming.state_commit_ms", p.stateOperators.map(_.commitTimeMs).sum.toDouble)
      lastState(p.id) = (p.stateOperators.map(_.numRowsTotal).sum.toDouble,
        p.stateOperators.map(_.memoryUsedBytes).sum.toDouble)
    }
    // State size counts once per query, as its last report before it
    // stopped.
    def onQueryTerminated(e: QueryTerminatedEvent): Unit = Counters.this.synchronized {
      lastState.remove(e.id).foreach { case (rows, bytes) =>
        add("streaming.state_rows", rows); add("streaming.state_mem_bytes", bytes)
      }
    }
  }
}

/** Spans kept in memory and written once when the run ends. A span
  * carries the listener counter deltas seen between its start and end.
  */
final class Tracer(spark: SparkSession) {
  private val sc: SparkContext = spark.sparkContext
  val counters = new Counters
  private val spans = mutable.ArrayBuffer[Map[String, Any]]()
  private val t0 = System.nanoTime()
  private var nextId = 0

  def attach(): Unit = { sc.addSparkListener(counters); spark.streams.addListener(counters.streams) }
  def detach(): Unit = {
    org.apache.spark.BusDrain(sc)
    sc.removeSparkListener(counters); spark.streams.removeListener(counters.streams)
  }

  /** Runs `body` as span `name` of operation `op` under `parent`
    * (0 = root); `body` gets the new span's id for its children.
    */
  def span[T](name: String, op: String, parent: Int)(body: Int => T): T = {
    nextId += 1
    val id = nextId
    org.apache.spark.BusDrain(sc)
    val before = counters.snapshot()
    val start = System.nanoTime()
    try body(id)
    finally {
      val end = System.nanoTime()
      org.apache.spark.BusDrain(sc)
      val after = counters.snapshot()
      val delta = after.map { case (k, v) =>
        k -> (if (k.contains("peak")) v else v - before.getOrElse(k, 0.0))
      }.filter(_._2 != 0.0)
      spans += Map("id" -> id, "parent" -> parent, "name" -> name, "op" -> op,
        "start_ns" -> (start - t0), "end_ns" -> (end - t0), "counters" -> delta)
    }
  }

  def toJson: List[Map[String, Any]] = spans.toList
}

/** Minimal JSON writer for the result files (maps, sequences, strings,
  * numbers, booleans).
  */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }.mkString("\"", "", "\"")
}
