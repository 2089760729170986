package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.util.HadoopOutputFile
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.sql.{AnalysisException, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructType, TimestampNTZType}

import graft.sources.Sources

/** `Sources.parquet`, the engine's one parquet reader: its footer schema
  * is the schema `spark.read.parquet` infers, on every input layout the
  * engine reads (testdata tables at all three scales, Spark-written part
  * files, `partitionBy` directories, both `events.ts` layouts), reading
  * launches no Spark job, a missing or empty path raises the inferred
  * read's errors, and no parquet read in `src/main` goes around it.
  */
class ParquetReadSpec extends SparkSpec {

  /** The three testdata scales, siblings of the shared `sfDir`. */
  private val scales = Seq("sf0.001", "sf0.01", "sf0.1")
    .map(s => s"${sfDir.substring(0, sfDir.lastIndexOf('/'))}/$s")
  private val loaders = Seq[(String, (SparkSession, String) => DataFrame)](
    "region" -> Tables.region, "nation" -> Tables.nation,
    "customer" -> Tables.customer, "supplier" -> Tables.supplier,
    "part" -> Tables.part, "orders" -> Tables.orders,
    "lineitem" -> Tables.lineitem, "events" -> Tables.events,
    "documents" -> Tables.documents, "embeddings" -> Tables.embeddings)

  private def tmp(name: String) = Files.createTempDirectory(name).toString

  private def assertSameSchema(path: String): Unit = {
    val inferred = spark.read.parquet(path).schema
    assert(Sources.parquetSchema(spark, path) == inferred, path)
    assert(Sources.parquet(spark, path).schema == inferred, path)
  }

  test("the footer schema is the inferred schema for every testdata table " +
      "at every scale") {
    // the session conf Tables reads under (nanosAsLong)
    Tables.region(spark, sfDir)
    for (d <- scales; (t, _) <- loaders) assertSameSchema(s"$d/$t.parquet")
  }

  test("a Spark-written directory: part files, _SUCCESS, non-null columns") {
    val dir = tmp("prs_parts") + "/t"
    spark.range(0, 40, 1, 4)
      .select(col("id"), (col("id") % 3).as("g"), lit("x").as("s"))
      .write.mode("overwrite").parquet(dir)
    assert(Files.exists(Paths.get(s"$dir/_SUCCESS")))
    assert(new java.io.File(dir).list().count(_.startsWith("part-")) == 4)
    assertSameSchema(dir)
    assert(Sources.parquet(spark, dir).schema.forall(_.nullable),
      "inference reads a non-null writer schema as nullable")
    assert(Sources.parquet(spark, dir).orderBy("id").collect().toSeq ==
      spark.read.parquet(dir).orderBy("id").collect().toSeq)
  }

  test("a partitionBy directory appends the partition column in the " +
      "inferred position") {
    // IvfIndex's assigned/cell_id=* layout, with cells past 9 so the
    // string order of the directories differs from the numeric one
    val dir = tmp("prs_partitioned") + "/assigned"
    spark.range(0, 120).select(col("id").as("vec_id"),
        (col("id") % 12).cast("int").as("cell_id"), (col("id") * 0.5).as("v"))
      .write.mode("overwrite").partitionBy("cell_id").parquet(dir)
    val inferred = spark.read.parquet(dir).schema
    assert(Sources.parquet(spark, dir).schema == inferred)
    assert(inferred.fieldNames.toSeq == Seq("vec_id", "v", "cell_id"))
    // the footer holds the data columns; the directory names, the rest
    assert(Sources.parquetSchema(spark, dir) ==
      StructType(inferred.dropRight(1)))
    assert(Sources.parquet(spark, dir).filter(col("cell_id") === 11)
      .count() == 10)
  }

  /** `events` rows with `ts` written in one physical parquet layout, the
    * way a non-Spark generator writes it (no Spark row metadata).
    */
  private def eventsCopy(unit: String): String = {
    val d = tmp(s"prs_events_$unit")
    val schema = MessageTypeParser.parseMessageType(
      s"""message schema {
         |  optional int64 event_id;
         |  optional int64 ts (TIMESTAMP($unit,false));
         |  optional binary event_type (STRING);
         |  optional double value;
         |}""".stripMargin)
    val conf = spark.sparkContext.hadoopConfiguration
    val w = ExampleParquetWriter.builder(HadoopOutputFile.fromPath(
      new Path(s"$d/events.parquet"), conf)).withType(schema).withConf(conf)
      .build()
    val rows = Tables.events(spark, sfDir)
      .select("event_id", "ts", "event_type", "value").collect()
    val f = new SimpleGroupFactory(schema)
    try rows.foreach { r =>
      val nanos = r.getLong(1)
      w.write(f.newGroup().append("event_id", r.getLong(0))
        .append("ts", if (unit == "NANOS") nanos else nanos / 1000L)
        .append("event_type", r.getString(2)).append("value", r.getDouble(3)))
    } finally w.close()
    d
  }

  test("both events.ts layouts: footer schema matches inference and " +
      "Tables.events gives the same nanos") {
    val (nanosDir, microsDir) = (eventsCopy("NANOS"), eventsCopy("MICROS"))
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    assertSameSchema(s"$nanosDir/events.parquet")
    assertSameSchema(s"$microsDir/events.parquet")
    assert(Sources.parquetSchema(spark, s"$nanosDir/events.parquet")("ts")
      .dataType == LongType)
    assert(Sources.parquetSchema(spark, s"$microsDir/events.parquet")("ts")
      .dataType == TimestampNTZType)
    def ts(d: String) = Tables.events(spark, d).select("event_id", "ts")
      .orderBy("event_id").collect().toSeq
    val fromNanos = ts(nanosDir)
    assert(fromNanos.nonEmpty && fromNanos == ts(microsDir))
    assert(fromNanos == ts(sfDir))
  }

  test("Tables loaders launch no Spark job; a cut launches only its write") {
    for ((name, load) <- loaders)
      assert(jobs(load(spark, sfDir)) == 0, s"Tables.$name launched a job")
    // planted control: the inferred read this reader replaces runs one
    assert(jobs(spark.read.parquet(s"$sfDir/nation.parquet")) >= 1,
      "an inferred read launched no job: the counter cannot see jobs")

    val name = s"prs_cut_${System.nanoTime}"
    val src = Tables.nation(spark, sfDir).select("n_nationkey", "n_name")
    // the write is one job, the read-back none; a second construction
    // reuses the memoized files and launches nothing
    assert(jobs(Scratch.cut(spark, name)(src)) == 1)
    assert(jobs(Scratch.cut(spark, name)(src)) == 0)
  }

  test("a missing path and a path with no data file raise the inferred " +
      "read's errors") {
    val root = tmp("prs_missing")
    val empty = s"$root/empty"
    Files.createDirectories(Paths.get(empty))
    Files.createFile(Paths.get(s"$empty/_SUCCESS"))
    for ((path, condition) <- Seq(s"$root/never_written" -> "PATH_NOT_FOUND",
        empty -> "UNABLE_TO_INFER_SCHEMA")) {
      val inferred = intercept[AnalysisException](spark.read.parquet(path))
      val footer = intercept[AnalysisException](Sources.parquet(spark, path))
      assert(inferred.getCondition == condition)
      assert(footer.getCondition == inferred.getCondition, path)
      assert(footer.getMessage == inferred.getMessage, path)
    }
  }

  /** `read.parquet` (called or passed as a function) or a
    * `.read.schema(...).parquet(` chain, across line breaks.
    */
  private val parquetRead =
    """\.read(\s*\.(schema|option|options|format)\((?:[^()]|\([^()]*\))*\))*\s*\.parquet\b""".r
  private val readAllowed = Seq(
    // the reader itself
    "graft/sources/Sources.scala" -> "spark.read.schema(parquetSchema(spark, path)).parquet(path)",
    // s10: schema evolution is the query's point, merged by inference
    "graft/queries/IoQueries.scala" -> """s.read.option("mergeSchema", "true").parquet(out)""")

  private def unguarded(file: String, text: String): Seq[String] =
    parquetRead.findAllMatchIn(text).toSeq.flatMap { m =>
      val lineNo = text.substring(0, m.start).count(_ == '\n') + 1
      val line = text.linesIterator.drop(lineNo - 1).next()
      val lineStart = text.lastIndexOf('\n', m.start) + 1
      val before = text.substring(lineStart, m.start).trim
      // scaladoc and comments may name the call
      val comment = before.startsWith("*") || before.startsWith("/*") ||
        before.contains("//")
      val allowed = readAllowed.exists { case (f, snippet) =>
        file.endsWith(f) && line.contains(snippet)
      }
      if (comment || allowed) Nil else Seq(s"$file:$lineNo: ${line.trim}")
    }

  test("every parquet read in src/main goes through Sources.parquet") {
    // planted control: the guard sees each shape it exists to catch
    for (planted <- Seq("val df = s.read.parquet(p)",
        "prev.map(s.read.parquet)", "spark.read\n  .schema(t.schema)\n  .parquet(p)"))
      assert(unguarded("Planted.scala", planted).nonEmpty, planted)
    for (fine <- Seq("spark.readStream.schema(t).parquet(p)",
        "// spark.read.parquet(p) infers", "  * `spark.read.parquet` runs a job"))
      assert(unguarded("Planted.scala", fine).isEmpty, fine)

    val root = Paths.get("src/main/scala")
    val files = Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    val texts = files.map(p => p.toString -> Files.readString(p))
    val offenders = texts.flatMap { case (f, t) => unguarded(f, t) }
    assert(offenders.isEmpty, "parquet reads that bypass Sources.parquet " +
      "(route them through it, or allowlist a read whose point is the " +
      "reader's own inference):\n" + offenders.mkString("\n"))
    // the allowlist names live sites only
    for ((f, snippet) <- readAllowed)
      assert(texts.exists { case (p, t) => p.endsWith(f) && t.contains(snippet) },
        s"stale allowlist entry $f: $snippet")
  }

  /** A plain overwrite parquet write, the one `Sources.checkpoint` makes,
    * as `.write.mode("overwrite").parquet(` across line breaks or as
    * `Sources.writeParquet(`; the path is the call's last argument.
    */
  private val plainWrite =
    """\.write\s*\.mode\("overwrite"\)\s*\.parquet\(|\bwriteParquet\(""".r
  private val pairAllowed = Seq(
    // the cut memo writes once per run and reads on every build
    "graft/Scratch.scala" -> "written.once(s, name)(Sources.writeParquet(df, p))",
    // Bench re-reads the word counts inside each timed trainer span
    "graft/Bench.scala" -> """.write.mode("overwrite").parquet(wcPath)""")

  /** The last argument of the call whose `(` ends just before `from`. */
  private def lastArgument(text: String, from: Int): String = {
    var (i, depth, start) = (from, 0, from)
    while (i < text.length && !(depth == 0 && text(i) == ')')) {
      text(i) match {
        case '(' => depth += 1
        case ')' => depth -= 1
        case ',' if depth == 0 => start = i + 1
        case _ =>
      }
      i += 1
    }
    text.substring(start, i).trim
  }

  /** The rest of the brace block holding `from`: its definition's body. */
  private def restOfBlock(text: String, from: Int): String = {
    var (i, depth) = (from, 0)
    while (i < text.length && depth >= 0) {
      if (text(i) == '{') depth += 1 else if (text(i) == '}') depth -= 1
      i += 1
    }
    text.substring(from, i)
  }

  /** Hand-written checkpoints in `text`: a plain write of path X read back
    * by `Sources.parquet(_, X)` later in the same block, as
    * `file:line: write line`. Writes in comments are skipped.
    */
  private def handCheckpoints(file: String, text: String,
      allow: Seq[(String, String)] = pairAllowed): Seq[String] =
    plainWrite.findAllMatchIn(text).toSeq.flatMap { m =>
      val lineNo = text.substring(0, m.start).count(_ == '\n') + 1
      val line = text.linesIterator.drop(lineNo - 1).next()
      val lineStart = text.lastIndexOf('\n', m.start) + 1
      val before = text.substring(lineStart, m.start).trim
      val comment = before.startsWith("*") || before.contains("//")
      val path = lastArgument(text, m.end)
      val readBack = ("""Sources\.parquet\(\s*[\w.]+\s*,\s*""" +
        java.util.regex.Pattern.quote(path) + """\s*\)""").r
      val allowed = allow.exists { case (f, snippet) =>
        file.endsWith(f) && line.contains(snippet)
      }
      if (comment || allowed || path.isEmpty ||
          readBack.findFirstIn(restOfBlock(text, m.end)).isEmpty) Nil
      else Seq(s"$file:$lineNo: ${line.trim}")
    }

  test("no write-then-read of one path in src/main outside Sources") {
    // planted controls: each hand-written pair shape is flagged ...
    for (planted <- Seq(
        "{ df.write.mode(\"overwrite\").parquet(p)\n  Sources.parquet(s, p) }",
        "{ val a = df\n    .write\n    .mode(\"overwrite\")\n" +
          "    .parquet(s\"$dir/a\")\n  f(Sources.parquet(spark, s\"$dir/a\")) }",
        "{ Sources.writeParquet(df.filter(col(\"x\") > 1), out)\n" +
          "  Sources.parquet(s, out).count() }"))
      assert(handCheckpoints("Planted.scala", planted).nonEmpty, planted)
    // ... and a write read back elsewhere, under another path, with
    // another write mode or layout, or named in a comment, is not
    for (fine <- Seq(
        "{ df.write.mode(\"overwrite\").parquet(p); p }\ndef r = Sources.parquet(s, p)",
        "{ df.write.mode(\"overwrite\").parquet(p)\n  Sources.parquet(s, q) }",
        "{ df.write.mode(\"append\").parquet(p)\n  Sources.parquet(s, p) }",
        "{ df.write.mode(\"overwrite\").partitionBy(\"k\").parquet(p)\n" +
          "  Sources.parquet(s, p) }",
        "{ // df.write.mode(\"overwrite\").parquet(p)\n  Sources.parquet(s, p) }"))
      assert(handCheckpoints("Planted.scala", fine).isEmpty, fine)

    val root = Paths.get("src/main/scala")
    val walk = Files.walk(root)
    val texts =
      try walk.iterator().asScala.filter(_.toString.endsWith(".scala"))
        .map(p => p.toString -> Files.readString(p)).toSeq
      finally walk.close()
    def text(f: String) = texts.collectFirst { case (p, t) if p.endsWith(f) => t }
      .getOrElse(fail(s"no source file $f"))
    // writes whose point is the write itself: the guard sees each write
    // and none is read back as a checkpoint
    for (f <- Seq("graft/operators/SnapshotStore.scala",
        "graft/operators/Compaction.scala", "graft/similarity/IvfIndex.scala",
        "graft/similarity/PqIndex.scala", "graft/queries/StreamingQueries.scala")) {
      assert(plainWrite.findFirstIn(text(f)).nonEmpty, s"$f: no write seen")
      assert(handCheckpoints(f, text(f)).isEmpty, f)
    }

    val offenders = texts.filterNot(_._1.endsWith("graft/sources/Sources.scala"))
      .flatMap { case (f, t) => handCheckpoints(f, t) }
    assert(offenders.isEmpty, "writes read back as a checkpoint outside " +
      "Sources (call Sources.checkpoint, or Scratch.cut for a frame shared " +
      "across queries):\n" + offenders.mkString("\n"))
    // the allowlist names live sites only: each entry is a pair the guard
    // flags once the entry is taken out
    for (entry @ (f, snippet) <- pairAllowed)
      assert(handCheckpoints(f, text(f), pairAllowed.filterNot(_ == entry))
        .exists(_.contains(snippet)), s"stale allowlist entry $f: $snippet")
  }
}
