package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.Cleaning

/** Parity against the reference's OWN committed artifacts — the four
  * golden CSVs under `02_YouTube_API_Tables[Test_Run]/` are the
  * reference's de-facto test suite (SURVEY.md §5): the only captured
  * outputs of its pipeline. These tests read the actual files (multiLine
  * `;`-CSV, the S6 source shape) and assert the invariants the
  * reference's operators guarantee, on the reference's data rather than
  * synthetic fixtures:
  *
  *  - R1/R2/P6 tag table: 1,805 rows over 201 videos, 1-based contiguous
  *    per-video ordinals, exactly 6 no-tag placeholder rows.
  *  - O1 ordering: video_id DESC, tag_number ASC, byte-wise.
  *  - F1–F3 cleaning: the golden text is a FIXPOINT of our clean chain —
  *    re-applying escapeDelimiter/stripNonAscii/stripControl changes
  *    nothing, i.e. our chain reproduces the reference's normal form.
  *  - F4 demojize: the `#*name#*` tokens baked into the golden comments
  *    (the dormant operator's output) — our Demojize mapping emits the
  *    same surface form for the names it covers.
  *  - Referential shape: statistics and tags cover exactly the
  *    description table's 201 video_ids.
  */
class GoldenParitySpec extends AnyFunSuite {
  // `[` / `]` are glob metacharacters to Hadoop's path listing (the
  // multiLine CSV reader goes through BinaryFileRDD's glob, where
  // backslash escapes are NOT honored) — so copy the goldens once per
  // JVM to a bracket-free temp dir and read from there.
  private lazy val dir: String = GoldenParitySpec.bracketFreeDir
  private lazy val spark = TestSpark.spark

  private def goldenCsv(name: String) =
    spark.read
      .option("sep", ";").option("header", "true").option("multiLine", "true")
      .option("quote", "\"").option("escape", "\"")
      .csv(s"$dir/$name")

  private lazy val tagsDf = goldenCsv("Video_Tags_Table.csv").cache()
  private lazy val descs = goldenCsv("Video_Description_Table.csv").cache()
  private lazy val comments = goldenCsv("Video_Comments_Table.csv").cache()
  private lazy val stats = goldenCsv("Video_Statistics_Table.csv").cache()

  test("tag table: 1805 rows, 201 videos, 6 empty-tag placeholder rows") {
    assert(tagsDf.count() === 1805L)
    assert(tagsDf.select("video_id").distinct().count() === 201L)
    val empties = tagsDf.filter(col("tag_value").isNull || col("tag_value") === "")
    assert(empties.count() === 6L)
    // P6 semantics: a no-tag video still yields exactly ONE row, ordinal 1
    assert(empties.filter(col("tag_number") === "1").count() === 6L)
  }

  test("tag ordinals are 1-based and contiguous per video (R2)") {
    val byVideo = tagsDf
      .select(col("video_id"), col("tag_number").cast("long").as("n"))
      .groupBy("video_id")
      .agg(min("n").as("mn"), max("n").as("mx"), count(lit(1)).as("cnt"))
    assert(byVideo.filter(col("mn") =!= 1L || col("mx") =!= col("cnt")).isEmpty)
  }

  test("tag table row order is video_id DESC, tag_number ASC (O1)") {
    // multiLine CSV reads as one partition, so monotonically_increasing_id
    // is exactly file order; (video_id, n) is unique, so the sort is
    // deterministic — sorting must leave the file order unchanged.
    val withIdx = tagsDf
      .select(col("video_id"), col("tag_number").cast("long").as("n"))
      .withColumn("file_order", monotonically_increasing_id())
    val rows = withIdx
      .orderBy(col("video_id").desc, col("n").asc)
      .select("file_order").collect().map(_.getLong(0))
    assert(rows.sameElements(rows.sorted), "golden tag table is not in desc/asc order")
  }

  test("golden text is a fixpoint of the cleaning it was produced under") {
    // The committed Test_Run predates the final revision's full chain:
    // `comment` got F1+F2+F3, `author`/`tag_value` got F1+F3 (non-ASCII
    // still present), titles/descriptions only F1 (embedded newlines and
    // non-ASCII remain). Assert each column is a fixpoint of exactly the
    // cleaning the reference applied — i.e. our operators reproduce the
    // reference's normal forms on its own data.
    def fixpoint(df: org.apache.spark.sql.DataFrame, c: String,
                 clean: org.apache.spark.sql.Column => org.apache.spark.sql.Column): Unit = {
      val changed = df.filter(col(c).isNotNull && clean(col(c)) =!= col(c))
      assert(changed.isEmpty, s"column $c not a fixpoint of its clean level")
    }
    fixpoint(comments, "comment", Cleaning.cleanChain)
    fixpoint(comments, "author", c => Cleaning.stripControl(Cleaning.escapeDelimiter(c)))
    fixpoint(tagsDf, "tag_value", c => Cleaning.stripControl(Cleaning.escapeDelimiter(c)))
    fixpoint(descs, "video_title", Cleaning.escapeDelimiter)
    fixpoint(descs, "video_description", Cleaning.escapeDelimiter)
  }

  test("demojize surface form in golden comments matches our Demojize output") {
    // The dormant F4's output is baked into the goldens: #*name#* tokens.
    val tokens = comments
      .select(explode(expr("regexp_extract_all(comment, '#\\\\*([A-Za-z_-]+)#\\\\*', 1)")).as("name"))
      .groupBy("name").count()
    assert(tokens.count() > 0, "expected demojized tokens in golden comments")
    // Names our bounded mapping covers must round-trip exactly: demojize
    // of the raw emoji produces the same token the golden file carries.
    val ours = graft.functions.Demojize.mapping.map(_._2).toSet
    val overlap = tokens.collect().map(_.getString(0)).toSet.intersect(ours)
    assert(overlap.contains("OK_hand_light_skin_tone"))
    assert(overlap.contains("grinning_face"))
    // The mapping must cover (at least) the 100 most frequent golden
    // tokens, and every covered name must round-trip through demojize.
    assert(overlap.size >= 100,
      s"mapping covers only ${overlap.size} of the golden corpus's tokens")
    val top100 = tokens.orderBy(desc("count"), asc("name"))
      .limit(100).collect().map(_.getString(0))
    val uncoveredTop = top100.filterNot(ours)
    assert(uncoveredTop.isEmpty,
      s"top-100 golden tokens missing from mapping: ${uncoveredTop.mkString(", ")}")
    // As of round 4 the mapping covers the ENTIRE golden corpus — every
    // extractable token has an entry (the regex skips the handful of
    // names with digits/&/dots, which are spot-covered separately).
    val uncoveredAll = tokens.collect().map(_.getString(0)).filterNot(ours)
    assert(uncoveredAll.isEmpty,
      s"golden tokens missing from mapping: ${uncoveredAll.mkString(", ")}")
    import spark.implicits._
    val covered = graft.functions.Demojize.mapping.filter { case (_, n) => overlap.contains(n) }
    val roundTrips = covered.toDF("em", "name")
      .select(col("name"),
        graft.functions.Demojize.demojize(concat(lit("x "), col("em"), lit(" y"))).as("t"))
      .collect()
    roundTrips.foreach { r =>
      assert(r.getString(1) === s"x #*${r.getString(0)}#* y", s"name ${r.getString(0)}")
    }
  }

  test("tag table re-derives from its rolled-up tags-array via unpivotWithOrdinal") {
    // The full R1+R2+P6+O1 composition on the reference's own data: roll
    // the golden long-form table back up into the tags-array shape the
    // pipeline starts from (no-tag videos → NULL array, the P5 default
    // input), re-derive with OUR operator, and require value- and
    // order-exact equality with the golden rows — 1,805 rows including
    // the 6 placeholder rows the coalesce-before-explode semantics emit.
    import org.apache.spark.sql.Row
    val fixture = tagsDf
      .select(col("video_id"), col("tag_number").cast("int").as("n"), col("tag_value"))
      .groupBy("video_id")
      .agg(when(count(col("tag_value")) === 0, lit(null))
        .otherwise(transform(
          sort_array(collect_list(struct(col("n").as("n"), col("tag_value").as("t")))),
          x => x.getField("t"))).as("tags"))
    val rederived = graft.operators.Reshape
      .unpivotWithOrdinal(fixture, col("video_id"), col("tags"))
      .select(col("id").as("video_id"), col("tag_number"),
        coalesce(col("tag_value"), lit("")).as("tag_value"))
      .orderBy(col("video_id").desc, col("tag_number").asc)
      .collect().toSeq
    val golden = tagsDf
      .select(col("video_id"), col("tag_number").cast("long").as("tag_number"),
        coalesce(col("tag_value"), lit("")).as("tag_value"))
      .orderBy(col("video_id").desc, col("tag_number").asc)
      .collect().toSeq
    assert(golden.length === 1805)
    assert(rederived.length === golden.length)
    rederived.zip(golden).zipWithIndex.foreach { case ((r: Row, g: Row), i) =>
      assert(r === g, s"row $i differs: rederived=$r golden=$g")
    }
  }

  test("K1 writer reproduces the golden tag CSV byte-for-byte") {
    // The strongest writer claim available: re-derive the tag table
    // (previous test proves value parity), write it with OUR `;`-CSV
    // sink, and require the produced file to equal the reference's
    // committed artifact byte-for-byte — header, row order, separators,
    // empty-field encoding, line endings, everything.
    import java.nio.file.{Files, Paths}
    val fixture = tagsDf
      .select(col("video_id"), col("tag_number").cast("int").as("n"), col("tag_value"))
      .groupBy("video_id")
      .agg(when(count(col("tag_value")) === 0, lit(null))
        .otherwise(transform(
          sort_array(collect_list(struct(col("n").as("n"), col("tag_value").as("t")))),
          x => x.getField("t"))).as("tags"))
    val outDir = Files.createTempDirectory(graft.Scratch.root, "golden_w_").toString
    graft.operators.Reshape
      .unpivotWithOrdinal(fixture, col("video_id"), col("tags"))
      .select(col("id").as("video_id"), col("tag_number"),
        coalesce(col("tag_value"), lit("")).as("tag_value"))
      .coalesce(1)
      .sortWithinPartitions(col("video_id").desc, col("tag_number").asc)
      .write.mode("overwrite")
      .option("sep", ";").option("header", "true")
      .option("emptyValue", "") // bare empty field, not "" — pandas QUOTE_MINIMAL
      .csv(outDir)
    val part = new java.io.File(outDir).listFiles()
      .filter(_.getName.endsWith(".csv")).head.toPath
    val ours = Files.readAllBytes(part)
    val golden = Files.readAllBytes(
      Paths.get(s"$dir/Video_Tags_Table.csv"))
    assert(ours.length === golden.length,
      s"byte length differs: ours=${ours.length} golden=${golden.length}")
    assert(java.util.Arrays.equals(ours, golden), "byte content differs")
  }

  test("S6 reader + K1 writer are a byte-identity on every golden CSV") {
    // Read each golden with the multiLine `;`-CSV source and write it
    // straight back with the `;`-CSV sink (quote-doubling escape, bare
    // empty fields — the pandas QUOTE_MINIMAL dialect). Byte equality on
    // all four files proves the reader/writer pair round-trips the
    // reference's real artifacts exactly — including the quoted
    // embedded-newline fields in descriptions and comments.
    import java.nio.file.{Files, Paths}
    Seq("Video_Tags_Table.csv", "Video_Statistics_Table.csv",
        "Video_Description_Table.csv", "Video_Comments_Table.csv")
      .foreach { name =>
        val outDir = Files.createTempDirectory(graft.Scratch.root, s"golden_rt_").toString
        goldenCsv(name)
          .coalesce(1)
          .write.mode("overwrite")
          .option("sep", ";").option("header", "true")
          .option("quote", "\"").option("escape", "\"")
          .option("emptyValue", "")
          // the CSV WRITER trims field whitespace by default — the
          // goldens carry leading spaces that must survive
          .option("ignoreLeadingWhiteSpace", "false")
          .option("ignoreTrailingWhiteSpace", "false")
          .csv(outDir)
        val part = new java.io.File(outDir).listFiles()
          .filter(_.getName.endsWith(".csv")).head.toPath
        val ours = Files.readAllBytes(part)
        val golden = Files.readAllBytes(Paths.get(s"$dir/$name"))
        assert(ours.length === golden.length,
          s"$name: byte length differs ours=${ours.length} golden=${golden.length}")
        assert(java.util.Arrays.equals(ours, golden), s"$name: byte content differs")
      }
  }

  test("statistics and tags cover exactly the description table's videos") {
    val dv = descs.select("video_id").distinct()
    assert(dv.count() === 201L)
    assert(stats.select("video_id").distinct().exceptAll(dv).isEmpty)
    assert(dv.exceptAll(stats.select("video_id").distinct()).isEmpty)
    assert(tagsDf.select("video_id").distinct().exceptAll(dv).isEmpty)
    assert(dv.exceptAll(tagsDf.select("video_id").distinct()).isEmpty)
    assert(comments.count() === 18952L)
  }
}

object GoldenParitySpec {
  /** Copies the reference's golden CSVs out of the bracketed directory
    * (a Hadoop-glob hazard) into a plain temp path, once per JVM.
    */
  lazy val bracketFreeDir: String = {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    val src = Paths.get("/root/reference/02_YouTube_API_Tables[Test_Run]")
    val dst = Files.createTempDirectory(graft.Scratch.root, "golden_csv_")
    Files.list(src).forEach { p =>
      Files.copy(p, dst.resolve(p.getFileName.toString), StandardCopyOption.REPLACE_EXISTING)
    }
    dst.toFile.deleteOnExit()
    dst.toString
  }
}
