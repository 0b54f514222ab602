package graft.perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}
import java.security.MessageDigest

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col

import graft.{SparkEntry, Tables, Verify}
import graft.functions.Cleaning
import graft.operators.Lifecycle
import graft.pipeline.Pipeline
import graft.sources.JsonFixtureSource

/** The benchmark's JVM side: one closed-loop client running a seeded op
  * schedule through the public query entry points.
  *
  * An op is `SparkEntry.queries(name)(spark, dataDir)` (build) followed
  * by the noop write of its result (exec), then `Lifecycle.releaseAll`
  * (release). Between exec and release, outside the timed windows, the
  * output of every op of the warm-up and of each checked pass is
  * collected and digested. The warm-up execution of each query also
  * writes its rows to parquet for the oracle check, unless the plan
  * lists that digest as one that already passed the same oracle.
  *
  * Usage: Runner <planFile>. The plan (written by perfbench/run.py)
  * names the data and output directories, the query families, and the
  * warm-up list and timed passes in their seeded order. Records go to
  * the output directory: ops.jsonl, spans.jsonl, ledger.jsonl,
  * meta.json, oracle_sql.json and outputs/<query>/.
  */
object Runner {

  final case class Family(name: String, workload: String, patterns: Seq[String])

  /** One timed pass: its ops in order; `traced` passes record spans and
    * Spark costs, `checked` passes compare every op's output with the
    * query's reference output. */
  final case class Pass(traced: Boolean, checked: Boolean, ops: Seq[String])

  final case class Plan(workload: String, data: String, out: String,
                        families: Seq[Family], excluded: Map[String, String],
                        warmup: Seq[String], passes: Seq[Pass],
                        verified: Set[(String, String, String)])

  def readPlan(path: String): Plan = {
    var workload, data, out = ""
    val families = mutable.ArrayBuffer[Family]()
    val excluded = mutable.LinkedHashMap[String, String]()
    var warmup = Seq.empty[String]
    val passes = mutable.ArrayBuffer[Pass]()
    val verified = mutable.Set[(String, String, String)]()
    Files.readAllLines(Paths.get(path), UTF_8).asScala
      .map(_.trim).filter(_.nonEmpty).foreach { line =>
        val w = line.split("\\s+").toSeq
        w.head match {
          case "workload" => workload = w(1)
          case "data" => data = line.drop(5).trim
          case "out" => out = line.drop(4).trim
          case "family" => families += Family(w(1), w(2), w.drop(3))
          case "exclude" => excluded(w(1)) = w.drop(2).mkString(" ")
          case "warmup" => warmup = w.tail
          case "pass" => passes += Pass(w(1) == "traced", w(2) == "checked", w.drop(3))
          case "verified" => verified += ((w(1), w(2), w(3)))
          case other => throw new IllegalArgumentException(s"bad plan line: $other")
        }
      }
    Plan(workload, data, out, families.toSeq, excluded.toMap, warmup, passes.toSeq,
      verified.toSet)
  }

  private def matches(pattern: String, name: String): Boolean =
    if (pattern.endsWith("*")) name.startsWith(pattern.dropRight(1)) else name == pattern

  /** Every query name maps to exactly one family, or is excluded with a
    * reason; returns name → family, or the names that could not be
    * placed. */
  def place(names: Iterable[String], families: Seq[Family],
            excluded: Map[String, String]): Either[Seq[String], Map[String, Family]] = {
    val errors = mutable.ArrayBuffer[String]()
    val placed = names.toSeq.sorted.flatMap { n =>
      val hits = families.filter(_.patterns.exists(matches(_, n)))
      if (excluded.contains(n)) {
        if (hits.nonEmpty) errors += s"$n is excluded but also matches ${hits.map(_.name).mkString(",")}"
        None
      } else if (hits.size == 1) Some(n -> hits.head)
      else {
        errors += (if (hits.isEmpty) s"$n matches no family"
                   else s"$n matches several families: ${hits.map(_.name).mkString(",")}")
        None
      }
    }
    excluded.keys.filterNot(names.toSet).foreach(n => errors += s"excluded $n is not a query")
    if (errors.isEmpty) Right(placed.toMap) else Left(errors.toSeq)
  }

  /** Order-insensitive digest of a result: every row rendered with its
    * columns in name order, rows sorted, SHA-256 over the lot. */
  def digest(df: DataFrame, rows: Array[Row]): String = {
    val order = df.schema.fieldNames.zipWithIndex.sortBy(_._1).map(_._2)
    val lines = rows.map(r => order.map(i => String.valueOf(r.get(i))).mkString("\u0001")).sorted
    val md = MessageDigest.getInstance("SHA-256")
    lines.foreach { l => md.update(l.getBytes(UTF_8)); md.update('\n'.toByte) }
    md.digest().map(b => f"$b%02x").mkString
  }

  def sha256(s: String): String =
    MessageDigest.getInstance("SHA-256").digest(s.getBytes(UTF_8))
      .map(b => f"$b%02x").mkString

  private def vmHwmMb(): Double = {
    val status = Paths.get("/proc/self/status")
    if (!Files.exists(status)) Double.NaN
    else Files.readAllLines(status).asScala.find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(Double.NaN)
  }

  private def write(path: Path, lines: Seq[String]): Unit =
    Files.write(path, lines.asJava, UTF_8)

  /** The reference DAG of `Pipeline.run`, called stage by stage so each
    * stage gets its own span: pages, flatten_clean, csv, catalog, stats,
    * csv, catalog; the serving fit is returned for the exec phase,
    * which the caller wraps in the `pipeline.serve` span. Traced ops run
    * this instead of `Pipeline.run`, and the checked traced pass compares
    * its output with `Pipeline.run`'s; the DAG latency is taken from the
    * untraced ops. Spark is lazy, so the flatten_clean and stats spans
    * only build plans: the csv spans execute them. */
  def stagedDag(spark: SparkSession, data: String, workDir: String,
                span: Spans): DataFrame = {
    val pages = s"$workDir/pages"
    span("pipeline.pages") {
      JsonFixtureSource.writeSearchPages(spark, Tables.orders(spark, data), pages)
    }
    val descriptions = span("pipeline.flatten_clean") {
      JsonFixtureSource.readAndFlattenSearch(spark, pages)
        .withColumn("video_title", Cleaning.cleanChain(col("video_title")))
        .withColumn("video_description", Cleaning.cleanChain(col("video_description")))
    }
    val descBack = span("pipeline.csv") {
      Pipeline.throughCsv(spark, descriptions, s"$workDir/csv_descriptions")
    }
    span("pipeline.catalog") {
      descBack.write.mode("overwrite").format("parquet")
        .saveAsTable("graft_pipeline_descriptions")
    }
    val stats = span("pipeline.stats") { Pipeline.statistics(spark, data) }
    val statsBack = span("pipeline.csv") {
      Pipeline.throughCsv(spark, stats, s"$workDir/csv_statistics")
    }
    span("pipeline.catalog") {
      statsBack.write.mode("overwrite").format("parquet")
        .saveAsTable("graft_pipeline_statistics")
    }
    val joined = spark.table("graft_pipeline_statistics")
      .join(spark.table("graft_pipeline_descriptions"), Seq("video_id"), "inner")
    Pipeline.regression(joined.select(col("views"), col("comments")))
  }

  val DagQuery = "q_pipeline_e2e"

  def main(args: Array[String]): Unit = {
    val jvmStartNs = System.nanoTime() -
      (System.currentTimeMillis() -
        java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) * 1000000L
    val mainS = (System.nanoTime() - jvmStartNs) / 1e9
    val plan = readPlan(args(0))
    val out = Paths.get(plan.out)
    Files.createDirectories(out.resolve("outputs"))
    val queries = SparkEntry.queries
    val placed = place(queries.keys, plan.families, plan.excluded) match {
      case Right(p) => p
      case Left(errors) =>
        errors.foreach(e => System.err.println(s"[perfbench] cannot place query: $e"))
        sys.exit(3)
    }
    val mix = (plan.warmup ++ plan.passes.flatMap(_.ops)).distinct
    val foreign = mix.filterNot(n => placed.get(n).exists(_.workload == plan.workload))
    if (foreign.nonEmpty) {
      System.err.println(s"[perfbench] ops outside workload ${plan.workload}: ${foreign.mkString(",")}")
      sys.exit(3)
    }

    val oracleSql = SparkEntry.oracleSql
    val queriesS = (System.nanoTime() - jvmStartNs) / 1e9
    val spark = Verify.session("graft-perfbench")
    val sc = spark.sparkContext
    val sessionS = (System.nanoTime() - jvmStartNs) / 1e9
    val spans = new Spans(sc)
    val ledger = new Ledger
    val dagDir = s"${sys.props("java.io.tmpdir")}/perfbench_dag"

    val reference = mutable.HashMap[String, (String, Long)]()
    val records = mutable.ArrayBuffer[String]()
    var checkNs = 0L // untimed check windows before the first timed op
    var opId = 0

    def runOp(name: String, pass: Int, traced: Boolean, checked: Boolean): Unit = {
      val id = opId
      opId += 1
      spans.beginOp(id, traced)
      var build, exec, release = Double.NaN
      var error: String = null
      var rows = -1L
      var dig: String = null
      var live, cachedMb = Double.NaN
      var written = false
      val t0 = System.nanoTime()
      spans("op") {
        try {
          val staged = traced && name == DagQuery
          val df = spans("build") {
            if (staged) stagedDag(spark, plan.data, dagDir, spans)
            else queries(name)(spark, plan.data)
          }
          val t1 = System.nanoTime()
          build = (t1 - t0) / 1e9
          spans("exec") {
            def sink(): Unit = df.write.format("noop").mode("overwrite").save()
            if (staged) spans("pipeline.serve")(sink()) else sink()
          }
          exec = (System.nanoTime() - t1) / 1e9
          val tc = System.nanoTime()
          if (checked) spans("harness.check") {
            val got = df.collect()
            rows = got.length
            dig = digest(df, got)
            if (pass < 0) {
              reference(name) = (dig, rows)
              // An output whose digest already passed this oracle on these
              // tables needs no second oracle check: skip writing it.
              val sqlSha = oracleSql.get(name).map(sha256).getOrElse("none")
              written = !plan.verified.contains((name, sqlSha, dig))
              if (written) spark.createDataFrame(got.toSeq.asJava, df.schema).coalesce(1)
                .write.mode("overwrite").parquet(out.resolve(s"outputs/$name").toString)
            } else reference.get(name) match {
              case None => error = "no reference output (its warm-up execution failed)"
              case Some((d, n)) if d != dig =>
                error = s"output differs from the reference execution ($rows rows vs $n)"
              case _ => ()
            }
          }
          if (traced) {
            live = Lifecycle.liveCount.toDouble
            cachedMb = sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1048576.0
          }
          if (pass < 0) checkNs += System.nanoTime() - tc
        } catch {
          case NonFatal(e) =>
            error = s"${e.getClass.getName}: ${String.valueOf(e.getMessage).linesIterator.take(3).mkString(" ")}"
        }
        val tr = System.nanoTime()
        spans("release")(Lifecycle.releaseAll())
        release = (System.nanoTime() - tr) / 1e9
      }
      if (error != null) System.err.println(s"[perfbench] $name (op $id) failed: $error")
      else System.err.println(f"[perfbench] op $id%d pass $pass%d $name%s " +
        f"build=$build%.3f s exec=$exec%.3f s release=$release%.3f s")
      records += Json.obj(
        "op" -> id.toString, "pass" -> pass.toString, "traced" -> traced.toString,
        "checked" -> checked.toString,
        "name" -> Json.str(name), "family" -> Json.str(placed(name).name),
        "start" -> Json.num((t0 - jvmStartNs) / 1e9),
        "build_s" -> Json.num(build), "exec_s" -> Json.num(exec),
        "release_s" -> Json.num(release), "error" -> Json.str(error),
        "rows" -> rows.toString, "digest" -> Json.str(dig),
        "reference_written" -> written.toString,
        "live_checkpoints" -> Json.num(live), "cached_mb" -> Json.num(cachedMb))
    }

    // Warm-up: each query of the mix once, untimed. Its once-per-JVM
    // fixtures are written here and JIT/codegen warm up, so the timed
    // passes measure warm ops; its output is the reference the oracle
    // checks and later executions are compared with.
    plan.warmup.foreach(runOp(_, -1, traced = false, checked = true))
    val setupS = (System.nanoTime() - jvmStartNs - checkNs) / 1e9

    plan.passes.zipWithIndex.foreach { case (Pass(traced, checked, names), p) =>
      if (traced) sc.addSparkListener(ledger)
      names.foreach(runOp(_, p, traced, checked))
      if (traced) {
        org.apache.spark.GraftListenerDrain.waitUntilEmpty(sc, 60000)
        sc.removeSparkListener(ledger)
      }
    }

    write(out.resolve("ops.jsonl"), records.toSeq)
    write(out.resolve("spans.jsonl"), spans.lines(jvmStartNs))
    write(out.resolve("ledger.jsonl"), ledger.lines)
    write(out.resolve("oracle_sql.json"), Seq(oracleSql
      .filter { case (k, _) => mix.contains(k) }
      .map { case (k, v) => s"${Json.str(k)}:${Json.str(v)}" }.mkString("{", ",", "}")))
    write(out.resolve("meta.json"), Seq(Json.obj(
      "setup_s" -> Json.num(setupS), "main_s" -> Json.num(mainS),
      "queries_s" -> Json.num(queriesS), "session_s" -> Json.num(sessionS),
      "peak_rss_mb" -> Json.num(vmHwmMb()),
      "cores" -> sc.defaultParallelism.toString,
      "heap_max_mb" -> Json.num(Runtime.getRuntime.maxMemory / 1048576.0),
      "queries_placed" -> placed.size.toString,
      "queries_excluded" -> plan.excluded.size.toString)))
    spark.stop()
  }
}
