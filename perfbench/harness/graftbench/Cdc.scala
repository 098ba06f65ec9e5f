package graftbench

import java.nio.file.{Files, Paths, StandardCopyOption}
import java.sql.{Connection, DriverManager}
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, Trigger}

import graft.codec.CanalCodec
import graft.sinks.JdbcUpsertSink
import graft.sources.{Files => GraftFiles, Jdbc}
import graft.streaming.CdcStreamJob

/** The paper's job, open loop: Canal flat-JSON for `t_meeting_info` →
  * `CdcStreamJob.enriched` (dimension from embedded Derby through
  * `Jdbc.query`) → `CdcStreamJob.start` → `JdbcUpsertSink.writer` into a
  * Derby `meeting_result` table, as `MeetingStreamJob` wires it. An
  * in-memory source with `--partitions` input partitions per batch stands
  * in for the Kafka topic.
  *
  * Phases: (1) preloaded backlogs are drained, each by a freshly
  * started query (restart catch-up), the first ones untimed as warm-up;
  * (2) the last query tails the feed that one generator thread appends
  * in Canal batches of `--canal-batch` lines, each when its last event is
  * due, whether or not the job keeps up. The record carries what the
  * freshness computation needs: each append's source offset, line range
  * and send time, each batch's offsets and sink-write interval. */
object Cdc {
  val SinkCols: Seq[String] = Seq("meeting_id", "meeting_code", "meetingroom_id",
    "meetingroom_name", "location_name", "city")
  val DimSql: String =
    """SELECT r.id AS "meetingroom_id", r.name AS "meetingroom_name",
      |l.id AS "location_id", l.name AS "location_name", l.city AS "city"
      |FROM t_meeting_room r LEFT JOIN t_meeting_location l ON r.location_id = l.id""".stripMargin
  private val Url = "jdbc:derby:memory:graftbench;create=true"

  def run(spark: SparkSession, a: Map[String, String], tr: Tracer): Map[String, Any] = {
    val cdc = a("cdc")
    val work = a("work")
    val rate = a("rate").toDouble
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    def lines(f: String): Seq[String] = Files.readAllLines(Paths.get(s"$cdc/$f")).asScala.toSeq
    val conn = DriverManager.getConnection(Url)

    val tLoad = System.nanoTime()
    loadDerby(conn, cdc)
    val loadS = (System.nanoTime() - tLoad) / 1e9
    val dimOpen = System.nanoTime()
    val dim = tr.span("sources.dim_read") {
      val d = Jdbc.query(spark, Url, DimSql)
      if (tr.enabled) d.write.format("noop").mode("overwrite").save()
      d
    }
    val dimReadS = (System.nanoTime() - dimOpen) / 1e9
    val writerFor = (table: String) => JdbcUpsertSink.writer(Url, table,
      keyCols = Seq("meeting_id"), valCols = SinkCols.tail,
      opCol = Some("op"), versionCol = Some("es"))

    // ---- timed: backlog drains, then the open-loop tail
    val batches = new ConcurrentHashMap[Long, Map[String, Any]]()
    val progress = new ConcurrentHashMap[Long, Map[String, Any]]()
    val sinkWriter = writerFor("meeting_result")
    @volatile var phaseSpan = 0
    val timedWriter: (DataFrame, Long) => Unit = (df, id) => {
      val s0 = Clock.now()
      tr.span("sinks.write", parent = phaseSpan, attrs = Map("batch" -> id)) {
        sinkWriter(df, id)
      }
      batches.put(id, Map("batch" -> id, "write_start_ns" -> s0, "write_end_ns" -> Clock.now()))
    }
    val timedId = new java.util.concurrent.atomic.AtomicReference[java.util.UUID]()
    val progressListener = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val p = e.progress
        // a late event of an earlier query is told apart by its id
        if (p.sources.nonEmpty && timedId.get() == p.id)
          progress.put(p.batchId, Map("batch" -> p.batchId,
            "start_offset" -> Option(p.sources(0).startOffset).map(_.trim).orNull,
            "end_offset" -> Option(p.sources(0).endOffset).map(_.trim).orNull,
            "duration_ms" -> p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap))
      }
    }
    spark.streams.addListener(progressListener)
    val backlogs = new java.io.File(cdc).listFiles().map(_.getName)
      .filter(_.startsWith("backlog_")).sorted.toSeq
    val tail = lines("tail.txt")
    val warmDrains = a("warm-drains").toInt
    val partitions = a("partitions").toInt
    val canalBatch = a("canal-batch").toInt
    var tStart = Clock.now()
    // Each backlog is one restart catch-up: a fresh query on a fresh
    // source whose first batch reads the whole backlog. The first
    // `warmDrains` are set-up: they compile the per-row and per-batch
    // paths before timing. The last query stays up for the tail.
    var mem: MemoryStream[String] = null
    var q: StreamingQuery = null
    var backlogOffset = 0L
    val drains = backlogs.zipWithIndex.map { case (f, i) =>
      if (i == warmDrains) tStart = Clock.now()
      if (q != null) q.stop()
      batches.clear()
      progress.clear()
      mem = MemoryStream[String](partitions)
      val backlog = lines(f)
      backlogOffset = mem.addData(backlog).json().toLong
      val qStart = Clock.now()
      tr.span("cdc.backfill", attrs = Map("drain" -> i)) {
        phaseSpan = tr.currentId
        q = CdcStreamJob.start(CdcStreamJob.enriched(mem.toDF(), dim), s"$work/ckpt-timed-$i",
          timedWriter)
        timedId.set(q.id)
        awaitOffset(q, progress, backlogOffset)
      }
      val drained = progress.values.asScala.filter(p => covers(p, backlogOffset))
        .map(_("batch").asInstanceOf[Long]).min
      Map("lines" -> backlog.size,
        "s" -> (batches.get(drained)("write_end_ns").asInstanceOf[Long] - qStart) / 1e9)
    }

    val chunks = ArrayBuffer.empty[Map[String, Any]]
    val tailStart = Clock.now()
    tr.span("cdc.tail") {
      phaseSpan = tr.currentId
      val gen = new Thread(() => {
        // tail event i is due at i / rate; a Canal batch is appended once
        // its last event is due
        val dueNs = (i: Int) => tailStart + (i * 1e9 / rate).toLong
        var sent = 0
        while (sent < tail.size) {
          val due = math.min(tail.size, ((Clock.now() - tailStart) * rate / 1e9).toLong + 1).toInt
          val ready = if (due == tail.size) due else due / canalBatch * canalBatch
          if (ready > sent) {
            val off = mem.addData(tail.slice(sent, ready)).json().toLong
            chunks.synchronized(chunks += Map("offset" -> off, "first" -> sent, "end" -> ready,
              "send_ns" -> Clock.now()))
            sent = ready
          }
          val wait = dueNs(math.min(tail.size, sent + canalBatch) - 1) - Clock.now()
          if (wait > 0) java.util.concurrent.locks.LockSupport.parkNanos(wait)
        }
      }, "graftbench-generator")
      gen.start()
      gen.join()
    }
    val genStop = Clock.now()
    q.processAllAvailable()
    q.stop()
    spark.streams.removeListener(progressListener)
    val timedS = (Clock.now() - tStart) / 1e9

    val sink = dump(conn, "meeting_result")
    val codec = if (tr.enabled) codecProbe(spark, lines(backlogs.last), tr)
      else Map.empty[String, Any]
    val restart = restartCheck(spark, conn, dim, cdc, work, writerFor("meeting_restart"))
    conn.close()
    Map("load_s" -> loadS, "dim_read_s" -> dimReadS, "timed_s" -> timedS,
      "drains" -> drains, "backlog_offset" -> backlogOffset,
      "tail_start_ns" -> tailStart, "rate" -> rate, "generator_stop_ns" -> genStop,
      "chunks" -> chunks.synchronized(chunks.toList),
      "batches" -> batches.values.asScala.toSeq.sortBy(_("batch").asInstanceOf[Long]),
      "progress" -> progress.values.asScala.toSeq.sortBy(_("batch").asInstanceOf[Long]),
      "sink" -> sink, "restart" -> restart, "codec" -> codec)
  }

  /** Offsets of a MemoryStream batch are JSON longs; a batch covers
    * appends in (start, end]. */
  def covers(p: Map[String, Any], offset: Long): Boolean = {
    val end = Option(p("end_offset")).map(_.toString.toLong).getOrElse(-1L)
    val start = Option(p("start_offset")).map(_.toString.toLong).getOrElse(-1L)
    start < offset && offset <= end
  }

  private def awaitOffset(q: StreamingQuery, progress: ConcurrentHashMap[Long, Map[String, Any]],
                          offset: Long): Unit = {
    val limit = System.nanoTime() + 150L * 1000000000L
    while (!progress.values.asScala.exists(p => covers(p, offset))) {
      q.exception.foreach(e => throw e)
      require(System.nanoTime() < limit, "backlog not drained within 150 s")
      Thread.sleep(2)
    }
  }

  private def loadDerby(conn: Connection, cdc: String): Unit = {
    val st = conn.createStatement()
    Seq("t_meeting_room", "t_meeting_location", "meeting_result", "meeting_restart").foreach { t =>
      try st.execute(s"DROP TABLE $t") catch { case _: java.sql.SQLException => () }
    }
    st.execute("CREATE TABLE t_meeting_location (id INT PRIMARY KEY, name VARCHAR(64), city VARCHAR(64))")
    st.execute("CREATE TABLE t_meeting_room (id INT PRIMARY KEY, name VARCHAR(64), location_id INT)")
    val cols = "meeting_code VARCHAR(64), meetingroom_id INT, meetingroom_name VARCHAR(64), " +
      "location_name VARCHAR(64), city VARCHAR(64)"
    st.execute(s"CREATE TABLE meeting_result (meeting_id INT PRIMARY KEY, $cols)")
    // no key constraint: the restart check must be able to see duplicates
    st.execute(s"CREATE TABLE meeting_restart (meeting_id INT, $cols)")
    st.execute("CREATE INDEX meeting_restart_id ON meeting_restart (meeting_id)")
    // rows are `id \t name \t third`; rooms' third column is a
    // nullable location id (`\N`), locations' a city name
    def load(table: String, file: String, intThird: Boolean): Unit = {
      val ps = conn.prepareStatement(s"INSERT INTO $table VALUES (?, ?, ?)")
      Files.readAllLines(Paths.get(s"$cdc/$file")).asScala.foreach { l =>
        val f = l.split("\t", -1)
        ps.setInt(1, f(0).toInt)
        ps.setString(2, f(1))
        if (!intThird) ps.setString(3, f(2))
        else if (f(2) == "\\N") ps.setNull(3, java.sql.Types.INTEGER)
        else ps.setInt(3, f(2).toInt)
        ps.addBatch()
      }
      ps.executeBatch()
      ps.close()
    }
    load("t_meeting_location", "locations.tsv", intThird = false)
    load("t_meeting_room", "rooms.tsv", intThird = true)
    st.close()
  }

  /** Every row of a sink table, as strings (null kept as null). */
  def dump(conn: Connection, table: String): Seq[Seq[String]] = {
    val rs = conn.createStatement().executeQuery(
      s"SELECT ${SinkCols.mkString(", ")} FROM $table")
    val out = ArrayBuffer.empty[Seq[String]]
    while (rs.next()) out += SinkCols.indices.map(i => rs.getString(i + 1))
    rs.close()
    out.toList
  }

  /** Codec layer alone: the backlog as a static frame through
    * `decodeOrDeadLetter` and `meetingPipeline` (traced runs only). */
  private def codecProbe(spark: SparkSession, backlog: Seq[String], tr: Tracer): Map[String, Any] = {
    import spark.implicits._
    val raw = backlog.toDF("value").cache()
    raw.count()
    tr.span("codec") {
      val t = System.nanoTime()
      val (ok, dead) = CanalCodec.decodeOrDeadLetter(raw)
      val rows = CanalCodec.meetingPipeline(raw, ops = Set("INSERT", "UPDATE", "DELETE"))
      rows.write.format("noop").mode("overwrite").save()
      val s = (System.nanoTime() - t) / 1e9
      val res = Map[String, Any]("s" -> s, "envelopes_in" -> backlog.size.toLong,
        "decoded" -> ok.count(), "dead_letters" -> dead.count(), "rows_out" -> rows.count())
      raw.unpersist()
      res
    }
  }

  /** Exactly-once across a restart, through the file-drop source: one
    * file per micro-batch; the sink writer fails right after its write of
    * batch `CrashBatch` (the offsets are logged, the commit is not), the
    * query is restarted on the same checkpoint, and the remaining files
    * follow. The sink must then equal the replay of all files. */
  val CrashBatch = 2L

  private def restartCheck(spark: SparkSession, conn: Connection, dim: DataFrame, cdc: String,
                           work: String, writer: (DataFrame, Long) => Unit): Map[String, Any] = {
    val files = new java.io.File(cdc).listFiles().map(_.getName)
      .filter(_.startsWith("restart_")).sorted.toSeq
    val dropDir = Paths.get(s"$work/restart-drop")
    Files.createDirectories(dropDir)
    val ckpt = s"$work/ckpt-restart"
    var crashed = false
    val crashing: (DataFrame, Long) => Unit = (df, id) => {
      writer(df, id)
      if (id == CrashBatch && !crashed) {
        crashed = true
        throw new IllegalStateException("simulated failure after the sink write")
      }
    }
    def start(w: (DataFrame, Long) => Unit): StreamingQuery =
      CdcStreamJob.start(CdcStreamJob.enriched(GraftFiles.textStream(spark, dropDir.toString), dim),
        ckpt, w, Trigger.ProcessingTime("100 milliseconds"))
    var q = start(crashing)
    var restarts = 0
    files.foreach { f =>
      Files.copy(Paths.get(s"$cdc/$f"), Paths.get(s"$work/$f.tmp"), StandardCopyOption.REPLACE_EXISTING)
      Files.move(Paths.get(s"$work/$f.tmp"), dropDir.resolve(f), StandardCopyOption.ATOMIC_MOVE)
      try q.processAllAvailable()
      catch {
        case _: org.apache.spark.sql.streaming.StreamingQueryException if crashed && restarts == 0 =>
          restarts += 1
          q = start(writer)
          q.processAllAvailable()
      }
    }
    q.stop()
    Map("files" -> files, "crashed" -> crashed, "restarts" -> restarts,
      "sink" -> dump(conn, "meeting_restart"))
  }
}
