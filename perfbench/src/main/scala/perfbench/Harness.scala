package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.Paths

import scala.collection.mutable
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.functions._

import graft.app.Lab2Pipeline
import graft.io.Sinks
import graft.similarity.Similarity
import graft.text.{IdentityLemmatizer, TextPrep}
import graft.tfidf.TfIdf

/** JVM side of the benchmark. Drives the program only through its public
  * entry points and writes one raw JSON record (`--out`); `run.py` turns
  * that record into metrics and checks the outputs.
  *
  *   Harness sql <stopwords.txt> <out.json>
  *     the DuckDB Task-1 oracle SQL (Lab2Queries) as a template
  *   Harness run --workload W --input P [--stopwords F] [--queries q1,q2]
  *               --warmup N --seconds N --trace 0|1 --cores C --out raw.json
  *
  * Workload kinds: `lab2_*` runs `Lab2Pipeline.run` plus the four sinks
  * of `Lab2Pipeline.main` per operation; `lifecycle_*` runs `--queries`
  * from `SparkEntry.queries` over a data directory.
  * Set-up ends with `--warmup` untimed operations on the real input. The timed
  * region then runs operations until `--seconds` have passed, at least
  * one. With `--trace 1` one untraced operation is followed by one
  * traced operation whose layer calls are wrapped in spans ([[Trace]]).
  */
object Harness {

  def main(args: Array[String]): Unit = args.toList match {
    case "sql" :: stopwords :: out :: Nil => dumpSql(stopwords, out)
    case "run" :: rest => run(options(rest))
    case _ =>
      System.err.println("usage: Harness sql <stopwords> <out> | Harness run --workload W ...")
      sys.exit(2)
  }

  private def options(xs: List[String]): Map[String, String] = xs match {
    case k :: v :: tail if k.startsWith("--") => options(tail) + (k.drop(2) -> v)
    case Nil => Map.empty
    case _ => sys.error(s"bad arguments: ${xs.mkString(" ")}")
  }

  /** Lab2Queries resolves its fixtures against the working directory, so
    * this runs from the checkout root; the papers path is left as a
    * placeholder for the generated file. */
  private def dumpSql(stopwords: String, out: String): Unit = {
    val q = graft.operators.Lab2Queries
    require(new java.io.File(q.StopwordsPath).getCanonicalPath ==
      new java.io.File(stopwords).getCanonicalPath,
      s"run from the checkout root (Lab2Queries reads ${q.StopwordsPath})")
    val sql = Map(
      "papers_path" -> q.PapersPath,
      "q54" -> q.q54Sql, "q55" -> q.q55Sql,
      "stopwords" -> q.stopwords)
    writeJson(out, sql)
  }

  private def writeJson(path: String, value: Any): Unit =
    new ObjectMapper().registerModule(DefaultScalaModule)
      .writeValue(new java.io.File(path), value)

  private val osBean = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  private def cpuNs(): Long = osBean.getProcessCpuTime

  private def vmHwmMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }

  /** One timed operation: wall and process CPU seconds, or the error. */
  final case class Op(ok: Boolean, wallS: Double, cpuS: Double, out: String,
      error: String) {
    def toMap: Map[String, Any] = Map("ok" -> ok, "wall_s" -> wallS,
      "cpu_s" -> cpuS, "out" -> out, "error" -> error)
  }

  def timed(out: String)(body: => Unit): Op = {
    val (t0, c0) = (System.nanoTime(), cpuNs())
    val err = try { body; null } catch {
      case NonFatal(e) =>
        System.err.println(s"[perfbench] operation failed: $e")
        e.toString
    }
    Op(err == null, (System.nanoTime() - t0) / 1e9, (cpuNs() - c0) / 1e9, out, err)
  }

  private def run(o: Map[String, String]): Unit = {
    val workload = o("workload")
    val cores = o.getOrElse("cores", "4")
    val seconds = o("seconds").toDouble
    val traced = o.getOrElse("trace", "0") == "1"
    val outDir = Paths.get("out").toAbsolutePath.toString
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime

    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sessionReadyMs = System.currentTimeMillis()

    val wl: Workload =
      if (workload.startsWith("lab2_")) new Lab2(spark, o("input"), readLines(o("stopwords")))
      else if (workload.startsWith("lifecycle_")) new LifecycleWl(spark, o("input"),
        o("queries").split(",").toSeq)
      else sys.error(s"unknown workload $workload")

    for (i <- 0 until o("warmup").toInt) wl.op(s"$outDir/warm-$i")
    val setupMs = System.currentTimeMillis()
    println(f"[perfbench] setup ${(setupMs - jvmStartMs) / 1000.0}%.3f s")

    val ops = mutable.ArrayBuffer.empty[Op]
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    if (traced) ops ++= wl.op(s"$outDir/op-0")
    else {
      var i = 0
      while (i == 0 || System.nanoTime() < deadline) {
        ops ++= wl.op(s"$outDir/op-$i")
        i += 1
      }
    }
    val traceRecord: Map[String, Any] =
      if (!traced) Map.empty
      else {
        val rec = new Trace(spark)
        val t = wl.traced(s"$outDir/traced", rec)
        rec.close()
        rec.toMap ++ Map("ops" -> t.map(_.toMap), "counts" -> wl.counts)
      }
    val record = Map(
      "workload" -> workload,
      "jvm_start_ms" -> jvmStartMs,
      "session_ready_ms" -> sessionReadyMs,
      "setup_done_ms" -> setupMs,
      "setup_s" -> (setupMs - jvmStartMs) / 1000.0,
      "ops" -> ops.map(_.toMap).toSeq,
      "input_docs" -> wl.inputDocs,
      "peak_rss_mb" -> vmHwmMb(),
      "oracle_sql" -> wl.oracleSql,
      "trace" -> traceRecord)
    writeJson(o("out"), record)
    spark.stop()
  }

  private def readLines(path: String): Seq[String] = {
    val src = scala.io.Source.fromFile(path)
    try src.getLines().map(_.trim).filter(_.nonEmpty).toList finally src.close()
  }

  trait Workload {
    /** One or more timed operations writing their outputs under `out`. */
    def op(out: String): Seq[Op]
    /** The same work with each layer call in a span. */
    def traced(out: String, t: Trace): Seq[Op]
    /** Per-layer counts of the traced operation. */
    def counts: Map[String, Any]
    def inputDocs: Long
    def oracleSql: Map[String, String] = Map.empty
  }

  /** The paper pipeline: Task 1 + Task 2 and the reference's four outputs,
    * exactly as `Lab2Pipeline.main` writes them. */
  final class Lab2(spark: SparkSession, input: String, stopwords: Seq[String])
      extends Workload {

    lazy val inputDocs: Long = {
      val src = scala.io.Source.fromFile(input)
      try src.getLines().size.toLong finally src.close()
    }

    private def sinks(r: Lab2Pipeline.Result, out: String): Unit = {
      Sinks.writeSingleText(
        r.accuracy.selectExpr("'accuracy' AS k", "accuracy AS v"),
        s"$out/accuracy", asTuple = true)
      Sinks.writeSingleParquet(r.matches, s"$out/matches")
      Sinks.writeSingleCsv(r.mismatchSample, s"$out/sample")
      Sinks.writeSingleCsv(r.categoryMatrix, s"$out/heatmap")
    }

    private def once(out: String): Op = {
      var r: Lab2Pipeline.Result = null
      try timed(out) {
        r = Lab2Pipeline.run(spark, input, stopwords)
        sinks(r, out)
      } finally if (r != null) r.unpersist()
    }

    def op(out: String): Seq[Op] = Seq(once(out))

    private var countsRec: Map[String, Any] = Map.empty
    def counts: Map[String, Any] = countsRec

    /** `Lab2Pipeline.run`'s statements, in order, with each layer's
      * result persisted and counted at its boundary. run.py asserts that
      * this composition's outputs equal the untraced operation's. */
    def traced(out: String, t: Trace): Seq[Op] = {
      val held = mutable.ArrayBuffer.empty[DataFrame]
      def keep(df: DataFrame): DataFrame = { held += df.persist(); df }
      var c = Map.empty[String, Any]
      val op = try timed(out) {
        t.start()
        val papers = t.span("read") {
          val p = keep(Lab2Pipeline.readPapers(spark, input)
            .withColumn("categories",
              regexp_replace(lower(col("categories")), "\\s+$", "")))
          c += "read.rows" -> p.count()
          p
        }
        val (prepped, n) = t.span("text") {
          val p = keep(papers.select(
            col("id"), col("categories"),
            IdentityLemmatizer(TextPrep.filteredTokensCol(col("title"), stopwords)).as("title_toks"),
            IdentityLemmatizer(TextPrep.filteredTokensCol(col("abstract"), stopwords)).as("abs_toks")))
          (p, p.count())
        }
        val (absVecs, titleVecs) = t.span("tfidf") {
          val absToks = prepped.select(col("id"), explode(col("abs_toks")).as("word"))
          val absDf = keep(TfIdf.docFreq(absToks))
          c += "tfidf.vocab" -> absDf.count()
          val a = keep(TfIdf.l2Normalize(
              TfIdf.weights(TfIdf.termFreq(absToks), absDf, n))
            .withColumn("w", round(col("w"), 6)))
          val titleToks = prepped.select(col("id"), explode(col("title_toks")).as("word"))
          val tv = keep(TfIdf.l2Normalize(
              TfIdf.weights(TfIdf.termFreq(titleToks), absDf, n, external = true))
            .withColumn("w", round(col("w"), 6)))
          c += "tfidf.entries" -> (a.count() + tv.count())
          (a, tv)
        }
        val sims = t.span("similarity") {
          val s = keep(Similarity.invertedIndexJoin(titleVecs, absVecs)
            .withColumn("sim", round(col("sim"), 6)))
          s.count()
          pairJoinRows(s).foreach(n => c += "similarity.candidate_pairs" -> n)
          s
        }
        val (accuracy, matches, mismatchSample) = t.span("top1") {
          val m = keep(Similarity.argmax(sims)
            .select(col("l_id").as("title_id"), col("r_id").as("abstract_id"),
              col("sim").as("cosine")))
          c += "top1.matched" -> m.count()
          val acc = keep(m.agg(
            round(coalesce(sum(when(col("title_id") === col("abstract_id"), 1.0)), lit(0.0))
              / lit(n.toDouble), 6).as("accuracy"),
            count(lit(1)).as("n_matched"))
            .withColumn("n", lit(n)))
          acc.count()
          val mism = m.filter(col("title_id") =!= col("abstract_id"))
            .orderBy(col("title_id")).limit(5)
          val titles = papers.select(col("id"), col("title"), col("abstract"))
          val sample = keep(mism
            .join(broadcast(titles.select(col("id").as("title_id"), col("title"),
              col("abstract").as("correct_abstract"))), Seq("title_id"), "left")
            .join(broadcast(titles.select(col("id").as("abstract_id"),
              col("abstract").as("matched_abstract"))), Seq("abstract_id"), "left")
            .select(col("title_id"), col("abstract_id"), col("cosine"), col("title"),
              col("matched_abstract"), col("correct_abstract")))
          sample.count()
          (acc, m, sample)
        }
        val categoryMatrix = t.span("catmatrix") {
          val catToks = prepped.select(col("categories").as("id"),
            explode(col("abs_toks")).as("word"))
          val catVecs = TfIdf.l2Normalize(
            catToks.groupBy(col("id"), col("word")).agg(count(lit(1)).cast("double").as("w")))
          val catSims = Similarity.invertedIndexJoin(catVecs, catVecs)
          val cats = prepped.select(col("categories")).distinct()
          val catMatrixLong = cats.select(col("categories").as("l_id"))
            .crossJoin(cats.select(col("categories").as("r_id")))
            .join(catSims, Seq("l_id", "r_id"), "left")
            .select(col("l_id"), col("r_id"),
              round(coalesce(col("sim"), lit(0.0)), 6).as("sim"))
          val m = keep(catMatrixLong
            .groupBy(col("l_id")).pivot("r_id").agg(first(col("sim")))
            .na.fill(0.0).orderBy(col("l_id")))
          m.count()
          m
        }
        t.span("sinks") {
          sinks(Lab2Pipeline.Result(accuracy, matches, mismatchSample, categoryMatrix), out)
        }
        t.stop()
        // counts outside the traced wall: tokens, and the candidate pairs
        // an unpruned inverted-index join emits, sum over words of
        // n_title(w) * n_abs(w) (a cross-check on the join's own count)
        c += "text.tokens" -> prepped
          .agg(sum(size(col("title_toks")) + size(col("abs_toks")))).first().getLong(0)
        val perWord = (v: DataFrame, as: String) =>
          v.groupBy(col("word")).agg(count(lit(1)).as(as))
        c += "similarity.unpruned_pairs" -> perWord(titleVecs, "nt")
          .join(perWord(absVecs, "na"), "word")
          .agg(sum(col("nt") * col("na"))).first().getLong(0)
      } finally held.foreach(_.unpersist())
      countsRec = c
      Seq(op)
    }
  }

  /** Rows out of the first join under the pair aggregation of a
    * persisted, materialised similarity result: the candidate pairs the
    * program's join really produced. Reads the `numOutputRows` metric of
    * the plan that filled this result's cache, through adaptive query
    * stages but not into the caches of its inputs. None when the plan
    * has no join under an aggregate. */
  def pairJoinRows(df: DataFrame): Option[Long] = {
    def kids(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case _ => p.children
    }
    def walk(p: SparkPlan): Iterator[SparkPlan] = Iterator(p) ++ kids(p).iterator.flatMap(walk)
    for {
      scan <- walk(df.queryExecution.executedPlan).collectFirst { case s: InMemoryTableScanExec => s }
      agg <- walk(scan.relation.cachedPlan).collectFirst { case a: BaseAggregateExec => a }
      join <- walk(agg).collectFirst { case j: BaseJoinExec => j }
      rows <- join.metrics.get("numOutputRows")
    } yield rows.value
  }

  /** Lifecycle queries of the registry over a read-only data directory;
    * each query's result is written as parquet for the check. A query's
    * span is named by its registry prefix (`q298_retention_policy` → `q298`). */
  final class LifecycleWl(spark: SparkSession, dir: String, queries: Seq[String])
      extends Workload {
    private val fns = queries.map(q => q -> graft.SparkEntry.queries(q)).toMap

    lazy val inputDocs: Long = spark.read.parquet(s"$dir/documents.parquet").count()

    private def query(q: String, out: String): Op = timed(s"$out/$q") {
      spark.sparkContext.setJobDescription(q)
      try fns(q)(spark, dir).write.mode("overwrite").parquet(s"$out/$q")
      finally spark.sparkContext.setJobDescription(null)
    }

    def op(out: String): Seq[Op] = queries.map(query(_, out))

    def counts: Map[String, Any] = Map.empty

    def traced(out: String, t: Trace): Seq[Op] = {
      t.start()
      val ops = queries.map(q => t.span(q.takeWhile(_ != '_'))(query(q, out)))
      t.stop()
      ops
    }

    override def oracleSql: Map[String, String] = {
      val all = graft.SparkEntry.oracleSqlFor(dir)
      queries.flatMap(q => all.get(q).map(q -> _)).toMap
    }
  }
}
