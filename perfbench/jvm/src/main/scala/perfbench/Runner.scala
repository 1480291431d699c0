package perfbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.{CommandResultExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}

import graft.table.iceberg.{IcebergRestClient, IcebergRestServer}

/** Executes one benchmark plan against graft and writes what it saw.
  *
  * The plan (JSON, written by run.py) holds the set-up statements, the
  * warm-up operations and the seeded operation list. Operations run one
  * at a time (a closed loop with one client) until the measuring time is
  * up and the deck in progress is done. Every statement reaches graft through `spark.sql` on
  * `GraftTableCatalog`, every operator key through `SparkEntry.queries`.
  *
  * With tracing on, each operation also records spans (`op`,
  * `spark.analyze`, `spark.plan`; `exec.job` and `table.commit_tail` are
  * derived from the job records in run.py) and the deltas of the
  * FileSystem, REST and GC counters around it, plus the scan metrics of
  * its executed plan.
  *
  * Usage: Runner <plan.json> <result.json>
  */
object Runner {
  private val mapper = new ObjectMapper()

  final case class Op(id: Int, cls: String, sql: Option[String], key: Option[String],
      deck: Int)

  private def ops(n: JsonNode): IndexedSeq[Op] =
    n.elements().asScala.map { o =>
      Op(o.get("id").asInt(), o.get("cls").asText(),
        Option(o.get("sql")).map(_.asText()), Option(o.get("key")).map(_.asText()),
        Option(o.get("deck")).map(_.asInt()).getOrElse(-1))
    }.toIndexedSeq

  def main(args: Array[String]): Unit = {
    val plan = mapper.readTree(new File(args(0)))
    val out = mapper.createObjectNode()
    val trace = plan.get("trace").asBoolean()
    val workDir = new File(plan.get("work_dir").asText()).getAbsoluteFile
    val dataDir = plan.get("data_dir").asText()
    val keyDataDir = Option(plan.get("kernel_data_dir")).map(_.asText()).getOrElse(dataDir)
    val rest = plan.get("catalog").asText() == "rest"

    val s0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master("local[4]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.hadoop.fs.file.impl",
        if (trace) "perfbench.CountingFileSystem" else "graft.hadoop.FastLocalFileSystem")
      .config("spark.hadoop.fs.AbstractFileSystem.file.impl",
        if (trace) "org.apache.hadoop.fs.local.PerfbenchLocalFs" else "org.apache.hadoop.fs.local.LocalFs")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", new File(workDir, "spark-warehouse").toString)
      .config("spark.local.dir", new File(workDir, "spark-local").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    plan.get("views").fields().asScala.foreach { e =>
      spark.read.parquet(s"$dataDir/${e.getValue.asText()}")
        .createOrReplaceTempView(e.getKey)
    }
    out.put("spark_start_s", (System.nanoTime() - s0) / 1e9)

    val t0 = System.nanoTime()
    val cat = "cat"
    val wh = new File(workDir, "wh")
    wh.mkdirs()
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.spark.GraftTableCatalog")
    val server = if (rest) Some(new IcebergRestServer(wh.toString).start()) else None
    server match {
      case Some(srv) => spark.conf.set(s"spark.sql.catalog.$cat.uri", s"http://127.0.0.1:${srv.port}")
      case None => spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh.toString)
    }
    plan.get("setup").elements().asScala.foreach { s =>
      spark.sql(s.asText().replace("{cat}", cat)).collect()
    }
    out.put("setup_build_s", (System.nanoTime() - t0) / 1e9)
    out.put("warehouse", wh.toString)

    // `{snapI:J}` in a statement names the J-th snapshot (oldest first)
    // of the plan's I-th snapshot table, whose ids exist only now.
    val snapshots = plan.get("snapshot_tables").elements().asScala.map { t =>
      spark.sql(s"SELECT snapshot_id FROM ${t.asText().replace("{cat}", cat)}.snapshots " +
        "ORDER BY sequence_number, committed_at").collect().map(_.getLong(0)).toIndexedSeq
    }.toIndexedSeq
    val SnapRef = """\{snap(\d+):(\d+)\}""".r
    def resolve(sql: String): String =
      SnapRef.replaceAllIn(sql.replace("{cat}", cat),
        m => snapshots(m.group(1).toInt)(m.group(2).toInt).toString)

    val tracer = if (trace) Some(new Tracer(spark)) else None

    // An operation's time ends when graft has returned its result rows;
    // serialising them for the checker and reading the plan's scan
    // metrics come after that.
    def run(op: Op, rec: ObjectNode): Unit = {
      val sc = spark.sparkContext
      sc.setJobGroup(op.id.toString, op.cls, interruptOnCancel = false)
      val before = tracer.map { t => CountingFileSystem.beginOp(); t.counters() }
      var after = Option.empty[Map[String, Long]]
      val t0 = System.nanoTime()
      var t1 = 0L
      def stop(): Unit = if (t1 == 0L) {
        t1 = System.nanoTime()
        after = tracer.map(_.counters())
      }
      rec.put("t0", t0)
      try {
        val df: DataFrame = op.key match {
          case Some(k) => graft.SparkEntry.queries(k)(spark, keyDataDir)
          case None => spark.sql(resolve(op.sql.get))
        }
        val ta = System.nanoTime()
        if (trace) df.queryExecution.executedPlan
        val tp = System.nanoTime()
        val rows = df.collect()
        stop()
        rec.put("t_analyzed", ta)
        rec.put("t_planned", tp)
        if (op.key.isDefined) {
          val cols = rec.putArray("columns")
          df.schema.fieldNames.foreach(cols.add)
        }
        if (op.key.isDefined || op.cls == "read" || op.cls == "ddl")
          rec.set[JsonNode]("rows", Canon.json(mapper, rows))
        rec.put("ok", true)
        rec.put("result_rows", rows.length)
        tracer.foreach(_.scanMetrics(df, rec))
      } catch {
        case e: Throwable =>
          stop()
          rec.put("ok", false)
          rec.put("err", s"${e.getClass.getName}: ${String.valueOf(e.getMessage).take(400)}")
      } finally {
        rec.put("t1", t1)
        sc.clearJobGroup()
        for (t <- tracer; b <- before; a <- after) t.delta(b, a, rec)
      }
    }

    val w0 = System.nanoTime()
    val warmRecs = out.putArray("warmup")
    ops(plan.get("warmup")).foreach(op => run(op, warmRecs.addObject().put("id", op.id)))
    out.put("warmup_s", (System.nanoTime() - w0) / 1e9)

    val all = ops(plan.get("ops"))
    val recs = out.putArray("ops")
    tracer.foreach(_.start())
    val start = System.nanoTime()
    val deadline = start + (plan.get("seconds").asDouble() * 1e9).toLong
    out.put("start_ns", start)
    out.put("start_wall_ms", System.currentTimeMillis())
    out.put("start_ns_at_wall", System.nanoTime())
    // past the deadline, the deck in progress still runs to its end
    var i = 0
    while (i < all.size && (System.nanoTime() < deadline ||
        (i > 0 && all(i).deck == all(i - 1).deck))) {
      run(all(i), recs.addObject().put("id", all(i).id))
      i += 1
    }
    val end = System.nanoTime()
    out.put("end_ns", end)
    out.put("exhausted", i == all.size && end < deadline)

    // Traced runs may also time operator keys, outside the closed loop:
    // the list holds every key twice, the first pass being the warm-up.
    if (trace && plan.has("kernel_ops")) {
      val kops = ops(plan.get("kernel_ops"))
      val (first, second) = kops.splitAt(kops.size / 2)
      val kw = out.putArray("kernel_warmup")
      first.foreach(op => run(op, kw.addObject().put("id", op.id)))
      val kr = out.putArray("kernel_ops")
      second.foreach(op => run(op, kr.addObject().put("id", op.id)))
    }
    tracer.foreach(_.finish(out))
    endOfRun(spark, plan, cat, out)
    out.put("end_of_run_s", (System.nanoTime() - end) / 1e9)
    server.foreach(_.stop())
    spark.stop()
    out.put("peak_rss_kb", vmHwmKb())
    mapper.writerWithDefaultPrettyPrinter().writeValue(new File(args(1)), out)
  }

  /** Table state after the run: bytes the current snapshots reference,
    * snapshot and manifest counts, and bytes under the warehouse. */
  private def endOfRun(spark: SparkSession, plan: JsonNode, cat: String,
      out: ObjectNode): Unit = {
    def names(field: String): Seq[String] =
      plan.get(field).elements().asScala.map(_.asText().replace("{cat}", cat)).toSeq
    def count(sql: String): Long = spark.sql(sql).collect()(0).getLong(0)
    val live = names("end_tables").grouped(50).map { g =>
      spark.sql(g.map(t => s"SELECT coalesce(sum(bytes), 0) AS b FROM $t.files WHERE content = 0")
        .mkString(" UNION ALL ")).collect().map(_.getLong(0)).sum
    }.sum
    val snaps = names("history_tables").map(t => count(s"SELECT count(*) FROM $t.snapshots")).sum
    val manifests = names("history_tables").map(t => count(s"SELECT count(*) FROM $t.manifests")).sum
    out.put("live_data_bytes", live)
    out.put("snapshots_end", snaps)
    out.put("manifests_end", manifests)
    val wh = new File(out.get("warehouse").asText()).toPath
    out.put("warehouse_bytes", java.nio.file.Files.walk(wh).iterator().asScala
      .filter(java.nio.file.Files.isRegularFile(_))
      .map(java.nio.file.Files.size(_)).sum)
    val heap = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).sum
    out.put("heap_after_gc_mb", heap / 1048576.0)
  }

  private def vmHwmKb(): Long =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toLong).getOrElse(0L)
}

/** Per-operation counters, plan metrics and Spark job records. */
final class Tracer(spark: SparkSession) {
  private val listener = new JobListener
  spark.sparkContext.addSparkListener(listener)
  private val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala

  def start(): Unit = listener.clear()

  def counters(): Map[String, Long] =
    CountingFileSystem.snapshot() ++
      IcebergRestClient.requestsByEndpoint.asScala.map { case (k, v) => s"rest.ep.$k" -> v.get() } ++
      Map("rest.requests" -> IcebergRestClient.requestCount.get(),
        "rest.ns" -> IcebergRestClient.requestNanos.get(),
        "jvm.gc_ms" -> gcBeans.map(_.getCollectionTime).sum)

  def delta(before: Map[String, Long], after: Map[String, Long], rec: ObjectNode): Unit = {
    val c = rec.putObject("counters")
    after.foreach { case (k, v) =>
      val d = v - before.getOrElse(k, 0L)
      if (d != 0) c.put(k, d)
    }
  }

  private def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => q +: nodes(q.plan)
    case c: CommandResultExec => c +: nodes(c.commandPhysicalPlan)
    case o => o +: (o.children ++ o.subqueries).flatMap(nodes)
  }

  private val scanNames = Seq("liveDataFiles", "plannedDataFiles",
    "prunedDataFiles", "plannedBytes", "deleteFilesApplied")

  def scanMetrics(df: DataFrame, rec: ObjectNode): Unit = {
    val all = nodes(df.queryExecution.executedPlan)
    val m = rec.putObject("scan")
    scanNames.foreach(n => m.put(n, all.flatMap(_.metrics.get(n)).map(_.value).sum))
    m.put("scanRows", all.filter(_.nodeName.contains("Scan"))
      .flatMap(_.metrics.get("numOutputRows")).map(_.value).sum)
  }

  def finish(out: ObjectNode): Unit = {
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    val jobs = out.putArray("jobs")
    listener.jobs.foreach(j => jobs.add(j.json(jobs.objectNode())))
  }
}

final class JobListener extends org.apache.spark.scheduler.SparkListener {
  import org.apache.spark.scheduler._

  final class Job(val id: Int, val group: String, val startMs: Long) {
    var endMs = -1L; var tasks = 0L; var inputBytes = 0L; var shuffleBytes = 0L
    var stages = Set.empty[Int]
    def json(n: ObjectNode): ObjectNode = n.put("id", id).put("group", group)
      .put("start_ms", startMs).put("end_ms", endMs).put("tasks", tasks)
      .put("input_bytes", inputBytes).put("shuffle_bytes", shuffleBytes)
  }

  private val byId = scala.collection.mutable.LinkedHashMap[Int, Job]()
  private val byStage = scala.collection.mutable.Map[Int, Job]()

  def clear(): Unit = synchronized { byId.clear(); byStage.clear() }
  def jobs: Seq[Job] = synchronized(byId.values.toSeq)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    val j = new Job(e.jobId, group, e.time)
    byId(e.jobId) = j
    e.stageIds.foreach(s => byStage(s) = j)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    byId.get(e.jobId).foreach(_.endMs = e.time)
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (j <- byStage.get(e.stageId); m <- Option(e.taskMetrics)) {
      j.tasks += 1
      j.inputBytes += m.inputMetrics.bytesRead
      j.shuffleBytes += m.shuffleReadMetrics.totalBytesRead
    }
  }
}

/** Result rows as JSON for the checker (bench/check.py): engine-specific
  * types collapse to numbers, strings and nested arrays. */
object Canon {
  private def value(v: Any): Any = v match {
    case null => null
    case d: Double => d
    case f: Float => f.toDouble
    case b: java.math.BigDecimal => b.doubleValue()
    case b: scala.math.BigDecimal => b.toDouble
    case n: java.lang.Number => n.longValue()
    case b: Boolean => b
    // times as microseconds and dates as days since the epoch (UTC)
    case t: java.sql.Timestamp => micros(t.toInstant)
    case t: java.time.Instant => micros(t)
    case t: java.time.LocalDateTime => micros(t.toInstant(java.time.ZoneOffset.UTC))
    case d: java.sql.Date => d.toLocalDate.toEpochDay
    case d: java.time.LocalDate => d.toEpochDay
    case r: Row => r.toSeq.map(value)
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => Seq(value(k), value(x)) }.sortBy(_.toString)
    case a: Array[Byte] => a.map("%02x".format(_)).mkString
    case s: scala.collection.Seq[_] => s.map(value).toSeq
    case o => o.toString
  }

  private def micros(t: java.time.Instant): Long =
    t.getEpochSecond * 1000000L + t.getNano / 1000

  def json(mapper: ObjectMapper, rs: Array[Row]): ArrayNode = {
    val arr = mapper.createArrayNode()
    def put(a: ArrayNode, v: Any): Unit = v match {
      case null => a.addNull()
      case d: Double => a.add(d)
      case l: Long => a.add(l)
      case b: Boolean => a.add(b)
      case s: Seq[_] => val c = a.addArray(); s.foreach(put(c, _))
      case o => a.add(o.toString)
    }
    rs.foreach(r => { val row = arr.addArray(); r.toSeq.map(value).foreach(put(row, _)) })
    arr
  }
}
