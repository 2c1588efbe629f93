package perfbench

import java.nio.file.{Files, Path, Paths}
import java.sql.{DriverManager, Timestamp}
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.io.{Sources, TableStore}
import graft.ops.Pipeline

/** One benchmark process: one workload, one closed loop with a single
  * client thread. Writes every raw figure to `--out` as JSON; the
  * metrics are derived from it by `perfbench/run.py`.
  *
  * {{{
  * java ... perfbench.Main --workload etl_daily --seed 1 --seconds 15 --trace 0 \
  *   --inputs <generated inputs> --work <scratch dir> --out <file> [--queries a,b --indexes a,b --expected f]
  * }}}
  */
object Main {
  private val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime

  final case class Op(name: String, pass: Int, secs: Double, rows: Long)
  final case class Check(name: String, ok: Boolean, detail: String)

  final class Run(val args: Map[String, String]) {
    val workload: String = args("workload")
    val seed: Long = args("seed").toLong
    val seconds: Double = args("seconds").toDouble
    val traced: Boolean = args("trace") == "1"
    val inputs: Path = Paths.get(args("inputs"))
    val work: Path = Paths.get(args("work"))
    val ops = ArrayBuffer[Op]()
    val passes = ArrayBuffer[(Double, Boolean)]() // (seconds, traced)
    val checks = ArrayBuffer[Check]()
    val figures = scala.collection.mutable.LinkedHashMap[String, Any]()
    var attempted = 0L
    var failed = 0L
    val trace = new Trace(traced)
    def check(name: String, ok: Boolean, detail: => String = ""): Unit =
      checks += Check(name, ok, if (ok) "" else detail)
  }

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val run = new Run(args)
    // The registry root must be this run's own, never the shared default.
    val root = sys.props.get("graft.index.root")
    require(root.exists(r => Paths.get(r).toAbsolutePath.startsWith(run.work.toAbsolutePath)),
      s"graft.index.root must be set inside the run's work dir, got $root")

    val cpus = Runtime.getRuntime.availableProcessors()
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", run.work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", run.work.resolve("spark-warehouse").toString)
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    run.trace.attach(spark)

    val heapPools = java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
    def gcMs = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).sum
    var gc0 = 0L
    val startTimed = () => {
      run.figures("setup_s") = (System.currentTimeMillis() - jvmStartMs) / 1e3
      heapPools.foreach(_.resetPeakUsage())
      gc0 = gcMs
    }
    val stopTimed = () => {
      run.figures("peak_heap_mb") = heapPools.map(p => Option(p.getPeakUsage).fold(0L)(_.getUsed)).sum / 1048576.0
      run.figures("gc_s") = (gcMs - gc0) / 1e3
    }
    try {
      run.workload match {
        case "etl_daily" => Etl.run(spark, run, startTimed, stopTimed)
        case "query_warm" => QueryWarm.run(spark, run, startTimed, stopTimed)
        case "record" => QueryWarm.record(spark, run)
        case other => throw new IllegalArgumentException(s"unknown workload $other")
      }
      if (run.traced) {
        run.figures("calib_s") = calibration(spark, cpus)
        run.trace.drain()
      }
    } catch {
      case e: Throwable =>
        run.check("completed", ok = false, s"${e.getClass.getName}: ${e.getMessage}".take(500))
        e.printStackTrace()
    }
    import Json._
    val json = obj(
      "workload" -> str(run.workload), "cpus" -> num(cpus), "traced" -> run.traced.toString,
      "attempted" -> num(run.attempted), "failed" -> num(run.failed),
      "figures" -> obj(run.figures.toSeq.map { case (k, v) => k -> any(v) }: _*),
      "ops" -> arr(run.ops.toSeq.map(o => obj("name" -> str(o.name), "pass" -> num(o.pass),
        "s" -> num(o.secs), "rows" -> num(o.rows)))),
      "passes" -> arr(run.passes.toSeq.map { case (s, t) => obj("s" -> num(s), "traced" -> t.toString) }),
      "checks" -> arr(run.checks.toSeq.map(c => obj("name" -> str(c.name), "ok" -> c.ok.toString,
        "detail" -> str(c.detail)))),
      "trace" -> (if (run.traced) run.trace.toJson else "null"))
    Files.write(Paths.get(args("out")), json.getBytes("UTF-8"))
    spark.stop()
    // Library thread pools left behind by the workload must not hold the JVM open.
    sys.exit(0)
  }

  /** The host-calibration figure, same kernel shape as `graft.Bench`
    * (a fixed float dot-product pass) on a quarter of its rows, min over
    * three, scaled ×4 to Bench's `calib_sec` size. */
  def calibration(spark: SparkSession, cpus: Int): Double = {
    def once(): Double = {
      val t0 = System.nanoTime()
      val vec = transform(sequence(lit(0), lit(63)),
        j => (pmod(hash(col("id"), j), lit(997)).cast("float") / lit(997.0f)).cast("float"))
      val vec2 = transform(sequence(lit(0), lit(63)),
        j => (pmod(hash(col("id") + 1, j), lit(997)).cast("float") / lit(997.0f)).cast("float"))
      spark.range(0, 1L << 18, 1, cpus)
        .select(aggregate(zip_with(vec, vec2, (a, b) => a * b), lit(0.0f), (acc, x) => acc + x).as("d"))
        .agg(sum(col("d"))).queryExecution.toRdd.count(): Unit
      (System.nanoTime() - t0) / 1e9
    }
    4 * (1 to 3).map(_ => once()).min
  }

  /** Order-insensitive content digest: row count and the sum of per-row
    * hashes. Floating values are rounded to 6 decimals first, so a
    * change in summation order does not change the digest. */
  def digest(df: DataFrame): (Long, String) = {
    def norm(c: org.apache.spark.sql.Column, t: DataType): org.apache.spark.sql.Column = t match {
      case DoubleType | FloatType => round(c.cast(DoubleType), 6)
      case ArrayType(et @ (DoubleType | FloatType), _) => transform(c, x => norm(x, et))
      case _: MapType => to_json(c)
      case _ => c
    }
    val cols = df.schema.fields.map(f => norm(col(s"`${f.name}`"), f.dataType))
    val h = if (cols.isEmpty) lit(0L) else xxhash64(cols.toIndexedSeq: _*)
    val r = df.select(h.cast(DecimalType(38, 0)).as("h"))
      .agg(count(lit(1)), sum(col("h"))).first()
    (r.getLong(0), Option(r.getDecimal(1)).fold("0")(_.toPlainString))
  }

  /** Closed loop: repeat until `seconds` have passed, at least once. */
  def moreTime(t0: Long, seconds: Double): Boolean = (System.nanoTime() - t0) / 1e9 < seconds

  def timed[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = f
    (a, (System.nanoTime() - t0) / 1e9)
  }

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder()).iterator().asScala.foreach(Files.delete)
    finally s.close()
  }

  /** Bytes and file count of every regular file under `p`, by relative
    * path (size and mtime), so two listings can be diffed. */
  def listing(p: Path): Map[String, (Long, Long)] =
    if (!Files.exists(p)) Map.empty
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map { f =>
        p.relativize(f).toString -> (Files.size(f), Files.getLastModifiedTime(f).toMillis)
      }.toMap finally s.close()
    }

  def derbyExec(url: String, script: Path): Unit = {
    val conn = DriverManager.getConnection(url)
    try {
      val st = conn.createStatement()
      new String(Files.readAllBytes(script), "UTF-8").split(";\n").map(_.trim).filter(_.nonEmpty)
        .foreach(st.execute)
      st.close()
    } finally conn.close()
  }
}

/** `etl_daily`: episodes of consecutive days on one warehouse. Day 1 is
  * the full load, each later day one `Pipeline.run`. */
object Etl {
  import Main._

  private val DerbyDriver = "org.apache.derby.jdbc.EmbeddedDriver"

  final case class Episode(store: TableStore, dir: Path, srcDir: Path)

  def run(spark: SparkSession, r: Run, startTimed: () => Unit, stopTimed: () => Unit): Unit = {
    val manifest = readJson(r.inputs.resolve("manifest.json"))
    val days = manifest("days").asInstanceOf[Seq[Map[String, Any]]]
    val dates = days.map(_("date").toString)
    var episodes = 0

    // One episode: fresh warehouse, fresh source database, every day in order.
    def episode(tracedEpisode: Boolean): Episode = {
      episodes += 1
      val dir = r.work.resolve(s"episode$episodes")
      val src = dir.resolve("src")
      Files.createDirectories(src)
      val store = new TableStore(spark, dir.resolve("warehouse").toString)
      val url = s"jdbc:derby:memory:pb_e$episodes"
      val db = Sources.JdbcSpec(url = url, table = "", user = "", password = "", driver = DerbyDriver)
      var timedSecs = 0.0
      dates.zipWithIndex.foreach { case (date, d) =>
        // Delivery of the day's inputs: not timed.
        derbyExec(s"$url;create=true", r.inputs.resolve(f"derby/day$d%02d.sql"))
        val dd = date.substring(8, 10) + date.substring(5, 7) + date.substring(0, 4)
        Seq(s"transactions_$dd.txt", s"terminals_$dd.txt", s"passport_blacklist_$dd.xlsx").foreach { f =>
          Files.copy(r.inputs.resolve("src").resolve(f), src.resolve(f))
        }
        val reportDt = Timestamp.valueOf(s"$date 23:00:00")
        val before = if (tracedEpisode) listing(dir.resolve("warehouse")) else Map.empty[String, (Long, Long)]
        r.attempted += 1
        val (_, secs) = timed {
          try {
            if (tracedEpisode) r.trace.span("day", "day" -> d, "date" -> date) {
              tracedDay(spark, r, store, src.toString, reportDt, db)
            } else Pipeline.run(spark, store, src.toString, reportDt, dimDb = Some(db), dimRunTs = Some(reportDt))
          } catch { case e: Throwable => r.failed += 1; throw e }
        }
        timedSecs += secs
        r.ops += Op(if (d == 0) "first_day" else "day", episodes, secs, days(d)("tx_rows").toString.toLong)
        if (tracedEpisode) {
          val after = listing(dir.resolve("warehouse"))
          val written = after.filter { case (k, v) => !before.get(k).contains(v) }
          r.trace.spans.filter(_.name == "day").last.attrs ++= Seq("bytes_written" -> written.values.map(_._1).sum,
            "files_written" -> written.size.toLong,
            "files_listed" -> (d + 1) * 3L,
            "source_bytes" -> days(d)("source_bytes").toString.toLong,
            "jdbc_changed" -> days(d)("jdbc_changed").toString.toLong,
            "terminal_changed" -> days(d)("terminal_changed").toString.toLong)
        }
      }
      r.passes += ((timedSecs, tracedEpisode))
      try DriverManager.getConnection(s"$url;drop=true").close()
      catch { case _: java.sql.SQLException => () } // Derby reports a drop as an exception
      r.figures("warehouse_bytes") = listing(dir.resolve("warehouse")).values.map(_._1).sum
      r.figures("source_bytes") = manifest("source_bytes")
      r.figures("source_rows") = manifest("source_rows")
      Episode(store, dir, src)
    }

    // No warm-up episode: the reference runs every day as a fresh cron
    // process, so day 1 is the cold full load a real first run pays.
    startTimed()
    val t0 = System.nanoTime()
    var last: Episode = null
    var first: Episode = null // the untraced twin of a traced run
    if (r.traced) {
      r.trace.on = false
      first = episode(tracedEpisode = false)
      r.trace.on = true
      last = episode(tracedEpisode = true)
    } else {
      while (last == null || moreTime(t0, r.seconds)) {
        if (last != null) deleteTree(last.dir)
        last = episode(tracedEpisode = false)
      }
    }
    stopTimed()
    checks(spark, r, manifest, last, if (r.traced) Some(first) else None)
  }

  /** The stages of `Pipeline.run`, in its order and with its arguments,
    * each inside its own span. */
  def tracedDay(spark: SparkSession, r: Run, store: TableStore, src: String, reportDt: Timestamp,
                db: Sources.JdbcSpec): Unit = {
    val t = r.trace
    t.span("pipeline.transactions")(Pipeline.runTransactions(spark, store, src))
    t.span("pipeline.blacklist")(Pipeline.runBlacklist(spark, store, src))
    t.span("pipeline.terminals")(Pipeline.runTerminals(spark, store, src))
    t.span("pipeline.cards")(Pipeline.runJdbcDim(spark, store, Pipeline.cardsDim(db), reportDt))
    t.span("pipeline.accounts")(Pipeline.runJdbcDim(spark, store, Pipeline.accountsDim(db), reportDt))
    t.span("pipeline.clients")(Pipeline.runJdbcDim(spark, store, Pipeline.clientsDim(db), reportDt))
    t.span("pipeline.report")(Pipeline.runReport(spark, store, reportDt))
  }

  def checks(spark: SparkSession, r: Run, manifest: Map[String, Any], ep: Episode,
             untracedTwin: Option[Episode]): Unit = {
    val store = ep.store
    val facts = store.read("fact_transactions")
    val f = facts.agg(count(lit(1)), countDistinct(col("transaction_id"))).first()
    val expected = manifest("tx_ids").toString.toLong
    r.check("etl.tx_exactly_once", f.getLong(0) == expected && f.getLong(1) == expected,
      s"fact rows ${f.getLong(0)}, distinct ids ${f.getLong(1)}, delivered $expected")

    // A one-shot catch-up load of the same files must give the same
    // tables. It replays every stage over all history, so only the traced
    // run (which also compares its two warehouses) pays for it.
    if (untracedTwin.isDefined) {
      val catchUp = new TableStore(spark, ep.dir.resolve("catchup").toString)
      Pipeline.runTransactions(spark, catchUp, ep.srcDir.toString)
      Pipeline.runBlacklist(spark, catchUp, ep.srcDir.toString)
      Pipeline.runTerminals(spark, catchUp, ep.srcDir.toString)
      Seq("fact_transactions", "fact_blacklist", "dim_terminals_hist").foreach { t =>
        val (a, b) = (digest(store.read(t)), digest(catchUp.read(t)))
        r.check(s"etl.catchup.$t", a == b, s"daily $a vs catch-up $b")
      }
    }

    val planted = manifest("planted").asInstanceOf[Seq[Map[String, Any]]]
    val found = store.read("rep_fraud")
      .filter(col("event_dt").isin(planted.map(p => Timestamp.valueOf(p("event_dt").toString)): _*))
      .select(col("event_type"), date_format(col("event_dt"), "yyyy-MM-dd HH:mm:ss"), col("passport"))
      .collect().map(x => (x.getInt(0), x.getString(1), x.getString(2))).toSet
    val missing = planted.filterNot(p =>
      found.contains((p("rule").toString.toInt, p("event_dt").toString, p("passport").toString)))
    r.check("etl.planted_fraud", missing.isEmpty, s"${missing.size} of ${planted.size} missing: ${missing.take(3)}")

    untracedTwin.foreach { twin =>
      Seq("fact_transactions", "fact_blacklist", "dim_terminals_hist", "dim_cards_hist",
        "dim_accounts_hist", "dim_clients_hist", "rep_fraud", "meta_date").foreach { t =>
        val (a, b) = (digest(store.read(t)), digest(twin.store.read(t)))
        r.check(s"etl.traced_equals_untraced.$t", a == b, s"traced $a vs untraced $b")
      }
    }
  }

  /** Reads a JSON file (the generator's manifest, the recorded digests)
    * with Jackson, which Spark ships. */
  def readJson(p: Path): Map[String, Any] = {
    val m = new com.fasterxml.jackson.databind.ObjectMapper()
    def conv(n: com.fasterxml.jackson.databind.JsonNode): Any =
      if (n.isObject) n.fields().asScala.map(e => e.getKey -> conv(e.getValue)).toMap
      else if (n.isArray) n.elements().asScala.map(conv).toSeq
      else if (n.isIntegralNumber) n.asLong()
      else if (n.isNumber) n.asDouble()
      else if (n.isBoolean) n.asBoolean()
      else if (n.isNull) null
      else n.asText()
    conv(m.readTree(p.toFile)).asInstanceOf[Map[String, Any]]
  }
}
