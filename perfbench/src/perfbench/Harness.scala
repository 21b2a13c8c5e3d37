package perfbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The benchmark's JVM side: a single-client closed loop that drives the
  * engine through its public functions and records what happened.
  *
  * `run.py` writes a plan (one `key=value` per line) and reads back
  * `result.json`; all metric arithmetic and the oracle checks live on
  * the Python side. Spans are recorded only here, around each call the
  * harness makes into a layer, and only when the plan says `trace=1`;
  * an untraced run makes the same calls without timing them apart.
  */
object Harness {

  // ---- plan -------------------------------------------------------------

  final case class Plan(kv: Map[String, String]) {
    def apply(k: String): String =
      kv.getOrElse(k, throw new IllegalArgumentException(s"plan lacks $k"))
    def list(k: String): Seq[String] =
      kv.get(k).toSeq.flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty)
    def int(k: String): Int = apply(k).toInt
  }

  def readPlan(path: String): Plan = Plan(
    Files.readAllLines(Paths.get(path), UTF_8).asScala.toSeq
      .filter(_.contains("=")).map { l =>
        val i = l.indexOf('='); l.take(i) -> l.drop(i + 1)
      }.toMap)

  // ---- spans and counters -------------------------------------------------

  final case class Span(id: Int, parent: Int, op: String, name: String,
      start: Long, end: Long)

  /** In-memory span ledger; a no-op when tracing is off. */
  final class Tracer(val on: Boolean) {
    val spans = mutable.ArrayBuffer.empty[Span]
    private var next = 0
    private var stack = List.empty[Int]
    def apply[T](op: String, name: String)(body: => T): T =
      if (!on) body
      else {
        next += 1
        val id = next
        val parent = stack.headOption.getOrElse(0)
        stack = id :: stack
        val t0 = System.nanoTime()
        try body
        finally {
          spans += Span(id, parent, op, name, t0, System.nanoTime())
          stack = stack.tail
        }
      }
  }

  /** Spark task metrics summed per job group. The harness names the job
    * group `<op>|<layer>` around each call, so every job the engine
    * starts is charged to the op and layer that caused it. */
  final class Ledger extends SparkListener {
    final class Acc {
      val c = new Array[Long](11)
    }
    // jobs stages tasks taskMs cpuNs gcMs schedMs inB shRdB shWrB spillB
    val byGroup = new ConcurrentHashMap[String, Acc]()
    private val stageGroup = new ConcurrentHashMap[Int, String]()
    @volatile var events = 0L
    private def acc(g: String): Acc = byGroup.computeIfAbsent(g, _ => new Acc)
    override def onJobStart(j: SparkListenerJobStart): Unit = {
      val g = Option(j.properties)
        .flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
        .getOrElse("-")
      j.stageIds.foreach(s => stageGroup.put(s, g))
      val a = acc(g)
      a.synchronized { a.c(0) += 1 }
      events += 1
    }
    override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
      val a = acc(stageGroup.getOrDefault(s.stageInfo.stageId, "-"))
      a.synchronized { a.c(1) += 1 }
      events += 1
    }
    override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
      val a = acc(stageGroup.getOrDefault(t.stageId, "-"))
      val m = t.taskMetrics
      a.synchronized {
        a.c(2) += 1
        if (m != null) {
          a.c(3) += m.executorRunTime
          a.c(4) += m.executorCpuTime
          a.c(5) += m.jvmGCTime
          a.c(6) += math.max(0L, t.taskInfo.duration - m.executorRunTime -
            m.executorDeserializeTime - m.resultSerializationTime)
          a.c(7) += m.inputMetrics.bytesRead
          a.c(8) += m.shuffleReadMetrics.totalBytesRead
          a.c(9) += m.shuffleWriteMetrics.bytesWritten
          a.c(10) += m.memoryBytesSpilled + m.diskBytesSpilled
        }
      }
      events += 1
    }
    /** Listener delivery is asynchronous: wait until no event has
      * arrived for a while before reading the sums. */
    def drain(): Unit = {
      var last = -1L
      while (last != events) { last = events; Thread.sleep(300) }
    }
  }

  // ---- the run ------------------------------------------------------------

  final class Run(plan: Plan) {
    val trace = new Tracer(plan("trace") == "1")
    val ledger = if (trace.on) Some(new Ledger) else None
    val ops = mutable.ArrayBuffer.empty[String] // JSON objects
    val extra = mutable.LinkedHashMap.empty[String, String] // JSON values
    var spark: SparkSession = _
    private var err = ""

    def session(): SparkSession = {
      spark = SparkSession.builder()
        .master(s"local[${plan("cores")}]")
        .config("spark.sql.shuffle.partitions", plan("cores"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .getOrCreate()
      spark.sparkContext.setLogLevel("ERROR")
      ledger.foreach(spark.sparkContext.addSparkListener)
      spark
    }

    /** Charge the jobs `body` starts to `<op>|<layer>` and span it. */
    def layer[T](op: String, name: String)(body: => T): T =
      trace(op, name) {
        if (ledger.isEmpty) body
        else {
          spark.sparkContext.setJobGroup(s"$op|$name", name)
          try body finally spark.sparkContext.clearJobGroup()
        }
      }

    def releaseStorage(): Unit = {
      spark.sharedState.cacheManager.clearCache()
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = false))
    }

    def record(op: String, kind: String, name: String, t0: Long, t1: Long,
        ok: Boolean, err: String = "", fields: Seq[(String, String)] = Nil)
        : Unit =
      ops += json(Seq("op" -> str(op), "kind" -> str(kind),
        "name" -> str(name), "start_ns" -> t0.toString,
        "end_ns" -> t1.toString, "ok" -> ok.toString,
        "error" -> str(err)) ++ fields)

    /** One catalog query as a node runs it: construct the frame, plan
      * it, execute it into `sink` (parquet under the output dir, or the
      * noop sink when no output is kept). The op records its sink, so
      * every timed result is checked where it was written. */
    def query(op: String, kind: String, name: String, dir: String,
        sink: Option[String]): Boolean = {
      val fn = graft.SparkEntry.queries(name)
      releaseStorage()
      var phases = Seq.empty[(String, String)]
      val before = markers()
      val t0 = System.nanoTime()
      val ok = try {
        trace(op, "query") {
          val df = layer(op, "build")(fn(spark, dir))
          layer(op, "plan")(df.queryExecution.executedPlan)
          if (trace.on) phases = df.queryExecution.tracker.phases.toSeq
            .map { case (p, s) => s"plan_$p" -> s.durationMs.toString }
          layer(op, "exec") {
            sink match {
              case Some(path) => df.write.mode("overwrite").parquet(path)
              case None => df.write.format("noop").mode("overwrite").save()
            }
          }
        }
        true
      } catch { case e: Throwable => err = describe(e); false }
      val t1 = System.nanoTime()
      val built = markers().count { case (b, m) => !before.get(b).contains(m) }
      record(op, kind, name, t0, t1, ok, if (ok) "" else err,
        phases ++ Seq("built" -> built.toString,
          "out" -> str(sink.getOrElse(""))))
      ok
    }

    def describe(e: Throwable): String =
      (e.getClass.getSimpleName + ": " + Option(e.getMessage).getOrElse(""))
        .take(300)

    /** `graft.Tables` opens of every catalog table, each with its
      * schema forced — the per-read construction cost the query
      * builders pay on every table they touch. */
    def openTables(op: String, dir: String): Unit =
      graft.Tables.names.foreach { t =>
        val t0 = System.nanoTime()
        layer(op, "tables")(graft.Tables(spark, dir, t).schema)
        record(op, "tables", t, t0, System.nanoTime(), ok = true)
      }

    // ---- set-up -------------------------------------------------------------

    /** Set-up: the session (JVM-wide context) and the warm-up queries. */
    def setup(dir: String): Unit = {
      session()
      plan.list("warmup").foreach(q => query("setup", "warmup", q, dir, None))
    }

    /** Wall-clock start of the timed region: `run.py` measures set-up
      * from its own process start to here. */
    def timedStart(): Unit =
      extra("timed_start_ms") = System.currentTimeMillis().toString

    // ---- workloads ------------------------------------------------------------

    /** Closed loop over the sample until the time budget is spent and
      * at least `min_passes` whole passes ran (a pass in flight always
      * completes). Each pass writes its results to its own directory. */
    def queryLoop(dir: String): Unit = {
      val names = plan.list("queries")
      val out = plan("out")
      val budget = plan("seconds").toDouble * 1e9
      val minPasses = plan.int("min_passes")
      val t0 = System.nanoTime()
      var pass = 0
      val passes = mutable.ArrayBuffer.empty[String]
      while (pass < minPasses || System.nanoTime() - t0 < budget) {
        val p0 = System.nanoTime()
        if (trace.on) openTables(s"pass$pass", dir)
        names.zipWithIndex.foreach { case (q, i) =>
          query(s"p$pass.$i.$q", "query", q, dir, Some(s"$out/p$pass/$q"))
        }
        passes += sec(System.nanoTime() - p0)
        pass += 1
      }
      extra("passes") = passes.mkString("[", ",", "]")
    }

    /** Artifact queries over the lifecycle corpus: one phase, each
      * query's output kept under the phase's own directory for the
      * oracle check. */
    def artifactPhase(phase: String, dir: String): Unit = {
      val out = plan("out")
      val t0 = System.nanoTime()
      plan.list("queries").zipWithIndex.foreach { case (q, i) =>
        query(s"$phase.$i.$q", phase, q, dir, Some(s"$out/$phase/$q"))
      }
      extra(s"${phase}_wall_s") = sec(System.nanoTime() - t0)
    }

    /** Phase 4: bootstrap an IVF index through `IndexIngest`, then feed
      * it the seeded append and delete batches through the sinks,
      * calling the compaction policy after each batch and probing the
      * live index between batches. */
    def ingestPhase(): Unit = {
      import graft.stream.IndexIngest
      val in = plan("ingest_dir")
      val base = plan("ingest_base")
      graft.functions.VectorExpressions.register(spark)
      val boot = spark.read.parquet(s"$in/bootstrap.parquet")
      var t0 = System.nanoTime()
      val status = layer("ingest", "bootstrap")(
        IndexIngest.bootstrap(base, boot, plan.int("ingest_cells")))
      record("ingest.boot", "bootstrap", status.toString, t0,
        System.nanoTime(), ok = true)
      val batches = plan.list("ingest_batches")
      val probe = spark.read.parquet(s"$in/probe.parquet")
      batches.zipWithIndex.foreach { case (b, i) =>
        val kind = if (b.startsWith("append")) "append" else "delete"
        val df = spark.read.parquet(s"$in/$b.parquet")
        val before = treeBytes(new File(base))
        t0 = System.nanoTime()
        val ok = try {
          layer(s"ingest.$i", kind) {
            if (kind == "append") IndexIngest.ivfAppendSink(base)(df, i.toLong)
            else IndexIngest.ivfDeleteSink(base)(df, i.toLong)
          }
          true
        } catch { case e: Throwable => err = describe(e); false }
        val t1 = System.nanoTime()
        val afterSink = treeBytes(new File(base))
        val frag = IndexIngest.fragmentation(base, "assignments")
        val tomb = IndexIngest.tombstoneFiles(base)
        val compacted = ok && layer(s"ingest.$i", "compact")(
          IndexIngest.maybeCompactIvf(spark, base))
        val t2 = System.nanoTime()
        record(s"ingest.$i", "batch", kind, t0, t2, ok, if (ok) "" else err,
          Seq("sink_s" -> sec(t1 - t0), "compact_s" -> sec(t2 - t1),
            "compacted" -> compacted.toString, "fragmentation" -> frag.toString,
            "tombstone_files" -> tomb.toString,
            "bytes_before" -> before.toString,
            "bytes_after_sink" -> afterSink.toString,
            "artifact_bytes" -> treeBytes(new File(base)).toString))
        if (i < batches.length - 1) {
          val p0 = System.nanoTime()
          val top = try layer(s"probe.$i", "probe")(topK(base, probe, 10))
            catch { case e: Throwable => err = describe(e); Seq.empty }
          record(s"probe.$i", "probe", s"after-$i", p0, System.nanoTime(),
            top.nonEmpty, if (top.nonEmpty) "" else err)
        }
      }
      // membership of the live index: stored lists minus tombstones
      val members = liveMembers(base)
      Files.writeString(Paths.get(plan("out"), "members.txt"),
        members.mkString("\n"), UTF_8)
    }

    def lists(base: String): DataFrame =
      spark.read.parquet(s"$base/assignments")

    def tombstones(base: String): DataFrame =
      if (new File(s"$base/tombstones").listFiles() match {
        case null => true
        case fs => !fs.exists(_.getName.startsWith("part-"))
      }) spark.range(0).select(col("id").as("vec_id"))
      else spark.read.parquet(s"$base/tombstones").select("vec_id")

    def liveMembers(base: String): Seq[Long] =
      lists(base).join(tombstones(base), Seq("vec_id"), "left_anti")
        .select("vec_id").collect().map(_.getLong(0)).sorted.toSeq

    /** Exact top-k of each probe vector over the live index (stored
      * lists minus tombstones), by cosine through the engine's
      * `vec_dot`. */
    def topK(base: String, probe: DataFrame, k: Int): Seq[(Long, Long)] = {
      val live = lists(base).join(tombstones(base), Seq("vec_id"), "left_anti")
      val q = probe.select(col("vec_id").as("query_id"),
        col("embedding").as("q"))
      val scored = live.crossJoin(broadcast(q))
        .withColumn("score", expr("vec_dot(embedding, q) / norm"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("query_id").orderBy(col("score").desc, col("vec_id"))
      scored.withColumn("rk", row_number().over(w)).filter(col("rk") <= k)
        .select("query_id", "vec_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq
    }

    /** Phase 5: hand a node result off the way the reference node does —
      * a derived column, headerless CSV plus the metadata sidecar, the
      * PMML description — then read it back through the sidecar. */
    def handoffPhase(dir: String): Unit = {
      import graft.udf.{DerivedColumn, PmmlSerializer}
      val out = plan("out")
      val dc = DerivedColumn("net_price", "double",
        Seq("o_totalprice", "o_custkey"), "o_totalprice / (1 + o_custkey % 7)",
        Some(cs => cs(0) / (lit(1) + cs(1) % 7)))
      val src = graft.Tables(spark, dir, "orders")
        .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus")
      val t0 = System.nanoTime()
      val ok = try {
        val node = layer("handoff", "udf")(dc(src))
        val meta = layer("handoff", "write")(
          graft.io.Store.writeCsvWithMeta(node, s"$out/handoff"))
        layer("handoff", "pmml")(graft.io.Store.writePmml(node,
          meta.ModelLocation, PmmlSerializer.serialize(dc, Seq("double", "long"))))
        val back = layer("handoff", "read")(graft.io.Load.csvDirWithMeta(
          spark, meta.DataLocation, meta.MetaData, meta.MetaDataType).collect())
        val t1 = System.nanoTime()
        // correctness, outside the timed op: read-back equals what was
        // written, row for row
        val want = node.collect()
        def key(r: org.apache.spark.sql.Row) = r.mkString("\u0001")
        extra("handoff_equal") =
          (back.map(key).sorted.sameElements(want.map(key).sorted)).toString
        extra("handoff_rows") = back.length.toString
        extra("handoff_bytes") = treeBytes(new File(meta.ModelLocation)).toString
        extra("handoff_pmml") = new File(meta.PMMLLocation, "part-00000")
          .isFile.toString
        record("handoff", "handoff", "csv+pmml", t0, t1, ok = true)
        true
      } catch { case e: Throwable =>
        record("handoff", "handoff", "csv+pmml", t0, System.nanoTime(),
          ok = false, describe(e))
        false
      }
      extra("handoff_ok") = ok.toString
    }

    /** Every published artifact base under the root (a dir carrying a
      * `_FINGERPRINT` marker) with its marker's bytes: a build or an
      * in-place mutation rewrites the marker. */
    def markers(): Map[String, String] = {
      val out = mutable.Map.empty[String, String]
      def walk(d: File): Unit = Option(d.listFiles()).toSeq.flatten
        .filter(_.isDirectory).foreach { c =>
          val m = new File(c, "_FINGERPRINT")
          if (m.isFile) out(c.getPath) = new String(Files.readAllBytes(m.toPath), UTF_8)
          else walk(c)
        }
      walk(new File(plan("artifact_root")))
      out.toMap
    }

    /** The artifact root seen from outside: bases, bytes, files, and the
      * time `currentFingerprint` takes to validate every base. */
    def artifactWalk(tag: String): Unit = {
      val root = new File(plan("artifact_root"))
      val bases = markers().keys.toSeq
      val t0 = System.nanoTime()
      val valid = bases.count(b =>
        graft.io.ArtifactStore.currentFingerprint(b).isDefined)
      extra(s"artifacts_$tag") = json(Seq("bases" -> bases.length.toString,
        "valid" -> valid.toString, "validate_s" -> sec(System.nanoTime() - t0),
        "bytes" -> treeBytes(root).toString,
        "files" -> treeFiles(root).toString))
    }

    def finish(): Unit = {
      // driver heap still reachable after the run: in-process memos,
      // broadcasts, cached plans. The context cleaner frees broadcast
      // and shuffle state asynchronously after a GC, so collect a few
      // times with a pause and keep the smallest reading.
      releaseStorage()
      val heap = java.lang.management.ManagementFactory.getMemoryMXBean
      val used = (1 to 4).map { _ =>
        System.gc(); Thread.sleep(250); heap.getHeapMemoryUsage.getUsed
      }
      extra("heap_retained_mb") = (used.min / 1048576.0).toString
      ledger.foreach { l =>
        l.drain()
        extra("groups") = l.byGroup.asScala.toSeq.sortBy(_._1).map {
          case (g, a) => str(g) + ":" + a.c.mkString("[", ",", "]")
        }.mkString("{", ",", "}")
      }
      extra("spans") = trace.spans.map(s => json(Seq("id" -> s.id.toString,
        "parent" -> s.parent.toString, "op" -> str(s.op),
        "name" -> str(s.name), "start_ns" -> s.start.toString,
        "end_ns" -> s.end.toString))).mkString("[", ",", "]")
      extra("oracle") = plan.list("queries").distinct
        .flatMap(q => graft.SparkEntry.oracleSql.get(q).map(s => str(q) -> str(s)))
        .map { case (k, v) => s"$k:$v" }.mkString("{", ",", "}")
      extra("verify_shape") = plan.list("queries").distinct
        .filter(graft.SparkEntry.verifyOverrides.contains).map(str)
        .mkString("[", ",", "]")
      val body = json(Seq("ops" -> ops.mkString("[", ",", "]")) ++ extra.toSeq)
      Files.writeString(Paths.get(plan("out"), plan("result")), body, UTF_8)
    }

    /** Verify-shape dumps for sampled queries whose oracle form differs
      * from the timed form — run after the timed region, never in it. */
    def verifyShapes(dir: String): Unit = {
      val out = plan("out")
      plan.list("queries").distinct
        .filter(graft.SparkEntry.verifyOverrides.contains).foreach { q =>
          try graft.SparkEntry.verifyOverrides(q)(spark, dir)
            .write.mode("overwrite").parquet(s"$out/v/$q")
          catch { case e: Throwable =>
            extra(s"verify_error_$q") = str(describe(e)) }
        }
    }
  }

  def main(args: Array[String]): Unit = {
    val plan = readPlan(args(0))
    val run = new Run(plan)
    // a failure ends the JVM with a non-zero code and no result file;
    // Spark's non-daemon threads would otherwise keep it alive
    try {
      plan("mode") match {
        case "queries" =>
          val dir = plan("input")
          run.setup(dir)
          run.timedStart()
          run.queryLoop(dir)
          run.artifactWalk("end")
          run.verifyShapes(dir)
        case "lifecycle-cold" =>
          val dir = plan("input")
          run.setup(dir)
          run.timedStart()
          run.artifactPhase("cold", dir)
        case "lifecycle-warm" =>
          val dir = plan("input")
          run.session()
          run.artifactPhase("restart", dir)
          run.artifactPhase("warm", dir)
          run.ingestPhase()
          run.handoffPhase(dir)
          run.artifactWalk("end")
          run.verifyShapes(dir)
      }
      run.finish()
    } catch { case e: Throwable =>
      e.printStackTrace()
      Option(run.spark).foreach(_.stop())
      sys.exit(1)
    }
    run.spark.stop()
  }

  // ---- small helpers ------------------------------------------------------------

  def sec(ns: Long): String = (ns / 1e9).toString

  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def json(fields: Seq[(String, String)]): String =
    fields.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")

  def treeBytes(f: File): Long =
    if (f.isFile) f.length()
    else Option(f.listFiles()).toSeq.flatten.map(treeBytes).sum

  def treeFiles(f: File): Long =
    if (f.isFile) 1L
    else Option(f.listFiles()).toSeq.flatten.map(treeFiles).sum
}
