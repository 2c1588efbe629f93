package perfbench

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.SparkEntry
import graft.queries.Indexes

/** `query_warm`: passes over a fixed query set against an index registry
  * that set-up builds cold, one `Indexes` builder call per index, into
  * the run's own empty registry root. Each query call is construct →
  * plan → execute. */
object QueryWarm {
  import Main._

  /** Builder call per registry table the query set reads. */
  val builders: Map[String, (SparkSession, String) => Any] = Map(
    "doc_shingles" -> ((s, d) => Indexes.shingles(s, d)),
    "minhash_sigs" -> ((s, d) => Indexes.signatures(s, d)),
    "minhash_pair_scores" -> ((s, d) => Indexes.minhashPairScores(s, d)),
    "doc_bigrams" -> ((s, d) => Indexes.bigramFrequencies(s, d)),
    "doc_lm_scores" -> ((s, d) => Indexes.docLmScores(s, d)),
    "bpe_words" -> ((s, d) => Indexes.bpeWords(s, d)),
    "bpe_merges_n512" -> ((s, d) => Indexes.bpeMerges(s, d, 512)),
    "image_phash_png" -> ((s, d) => Indexes.imagePhashPng(s, d)),
    "source_shingles" -> ((s, d) => Indexes.sourceShingles(s, d)))

  def querySet(r: Run): Seq[(String, (SparkSession, String) => DataFrame)] =
    r.args("queries").split(",").toSeq.map(n => n -> SparkEntry.queries(n))

  /** One query call; spans split it into the three parts when traced.
    * `finish` executes the planned frame and returns its row count. */
  def call(spark: SparkSession, r: Run, sfDir: String, name: String,
           fn: (SparkSession, String) => DataFrame,
           finish: DataFrame => Long = _.queryExecution.toRdd.count()): Long = {
    val t = r.trace
    t.span("query", "query" -> name) {
      val df = t.span("queries.construct")(fn(spark, sfDir))
      t.span("catalyst.plan") {
        df.queryExecution.executedPlan
        df.queryExecution.tracker.phases.foreach { case (k, v) => t.note(k, v.durationMs) }
      }
      t.span("exec.execute")(finish(df))
    }
  }

  /** Every `_SUCCESS`-marked table under the registry root. */
  def registryTables(root: Path): Map[String, Path] =
    if (!Files.exists(root)) Map.empty
    else {
      val s = Files.walk(root)
      try s.iterator().asScala.filter(_.getFileName.toString == "_SUCCESS")
        .map(p => p.getParent.getFileName.toString -> p.getParent).toMap
      finally s.close()
    }

  def run(spark: SparkSession, r: Run, startTimed: () => Unit, stopTimed: () => Unit): Unit = {
    val sfDir = r.inputs.toString
    val root = Paths.get(sys.props("graft.index.root"))
    val qs = querySet(r)
    val expected = Etl.readJson(Paths.get(r.args("expected")))
    def pairs(key: String) = expected(key).asInstanceOf[Map[String, Any]]
      .map { case (n, x) => val e = x.asInstanceOf[Seq[Any]]; n -> (e(0).toString.toLong, e(1).toString) }
    val qExp = pairs("queries")

    // Set-up 1: the cold registry build, one builder call per index in
    // dependency order; each call must publish exactly its own table.
    var buildTotal = 0.0
    r.args("indexes").split(",").foreach { n =>
      val before = registryTables(root).keySet
      val (_, secs) = timed(r.trace.span(s"indexes.$n")(builders(n)(spark, sfDir)))
      val made = registryTables(root).keySet -- before
      r.check(s"builder.$n", made == Set(n), s"call for $n published ${made.mkString(",")}")
      r.figures(s"build_s.$n") = secs
      buildTotal += secs
    }
    r.figures("registry_build_s") = buildTotal
    val built = registryTables(root)

    // Set-up 2: one untimed pass, the warm-up, checks every result
    // against its recorded digest; it must not build anything.
    r.trace.on = false
    qs.foreach { case (n, fn) =>
      call(spark, r, sfDir, n, fn, df => {
        val d = digest(df)
        r.check(s"query.$n", qExp.get(n).contains(d), s"got $d, recorded ${qExp.get(n)}")
        d._1
      })
      spark.catalog.clearCache()
    }
    r.trace.on = r.traced
    r.check("registry.complete", registryTables(root).keySet == built.keySet,
      s"the query set built ${(registryTables(root).keySet -- built.keySet).mkString(",")}")

    startTimed()
    val t0 = System.nanoTime()
    var pass = 0
    def onePass(traced: Boolean): Unit = {
      pass += 1
      val order = new scala.util.Random(r.seed * 1000 + pass).shuffle(qs)
      var total = 0.0
      order.foreach { case (n, fn) =>
        r.attempted += 1
        val (rows, secs) = try timed(call(spark, r, sfDir, n, fn))
          catch { case e: Throwable => r.failed += 1; throw e }
        spark.catalog.clearCache()
        total += secs
        r.ops += Op(n, pass, secs, rows)
        if (!qExp.get(n).exists(_._1 == rows)) {
          r.failed += 1
          r.check(s"query.$n.rows.pass$pass", ok = false, s"$rows rows, recorded ${qExp.get(n)}")
        }
      }
      r.passes += ((total, traced))
    }
    if (r.traced) {
      r.trace.on = false
      onePass(traced = false)
      r.trace.on = true
      r.trace.span("pass")(onePass(traced = true))
    } else while (pass == 0 || moreTime(t0, r.seconds)) onePass(traced = false)
    stopTimed()
    r.figures("indexes_present") = built.size.toLong
    r.figures("builds_in_timed") = (registryTables(root).keySet -- built.keySet).size.toLong
    r.figures("registry_bytes") = listing(root).values.map(_._1).sum
    r.figures("corpus_bytes") = listing(r.inputs).values.map(_._1).sum

    // Each registry table's digest must equal the recorded one.
    var rows = 0L
    pairs("indexes").toSeq.sortBy(_._1).foreach { case (n, e) =>
      val d = built.get(n).map(p => digest(spark.read.parquet(p.toString)))
      d.foreach(x => rows += x._1)
      r.check(s"index.$n", d.contains(e), s"got $d, recorded $e")
    }
    r.figures("index_rows") = rows
  }

  /** Writes each query's result and the oracle SQL (for `dev/compare.py`)
    * and every query and registry digest. */
  def record(spark: SparkSession, r: Run): Unit = {
    val sfDir = r.inputs.toString
    val out = Paths.get(r.args("dump"))
    val root = Paths.get(sys.props("graft.index.root"))
    val qs = querySet(r)
    val qd = qs.map { case (n, fn) =>
      fn(spark, sfDir).write.mode("overwrite").parquet(out.resolve(n).toString)
      spark.catalog.clearCache()
      n -> digest(spark.read.parquet(out.resolve(n).toString))
    }
    val id = registryTables(root).toSeq.sortBy(_._1).map { case (n, p) =>
      n -> digest(spark.read.parquet(p.toString)) }
    import Json._
    def pairs(xs: Seq[(String, (Long, String))]) =
      obj(xs.map { case (n, (c, h)) => n -> arr(Seq(num(c), str(h))) }: _*)
    Files.write(out.resolve("oracle_sql.json"), obj(qs.flatMap { case (n, _) =>
      SparkEntry.oracleSql.get(n).map(s => n -> str(s)) }: _*).getBytes("UTF-8"))
    Files.write(out.resolve("digests.json"),
      obj("queries" -> pairs(qd), "indexes" -> pairs(id)).getBytes("UTF-8"))
  }
}
