package graft

import graft.audit.HeadroomAudit

/** Mechanical enforcement of the overflow-headroom audit (VERDICT r12 #1):
  * every DECIMAL(38,0)/HUGEINT product of two non-constant integer terms —
  * in the oracle SQL AND in the Scala query source — must carry a reviewed
  * entry stating its magnitude bound and pinning the bounding mechanism.
  * The class drew hand-fixed advice three rounds running (r9, r11); this
  * spec makes the NEXT unbounded product fail in the builder's loop.
  */
class HeadroomAuditSpec extends SparkSpec {

  /** Per-query Scala source blocks from the queries package, with pure
    * `//`-comment lines stripped (SQL margin lines start with `|`, so
    * DuckDB's `//` integer-divide operator is never at line start and
    * survives). A block runs from its `Q("name"` to the next `Q("`.
    */
  private lazy val scalaBlocks: Map[String, String] = {
    val dir = java.nio.file.Paths.get("src/main/scala/graft/queries")
    // blocks are split PER FILE: a file's last query block must end at
    // the file boundary, not run into the next file's header scaladoc
    // (whose `*`-prefixed prose lines survive the `//` strip and once
    // produced phantom product sites in the preceding block)
    java.nio.file.Files.list(dir).toArray.toSeq
      .map(p => java.nio.file.Files.readString(
        p.asInstanceOf[java.nio.file.Path]))
      .map(_.linesIterator.filterNot(_.trim.startsWith("//"))
        .mkString("\n"))
      .flatMap { src =>
        src.split("Q\\(\"").drop(1).flatMap { part =>
          val name = part.takeWhile(_ != '"')
          if (name.matches("[a-z][a-z0-9_]+")) Some(name -> part) else None
        }
      }.toMap
  }

  test("every wide-integer product in an oracle SQL has a headroom entry") {
    val uncovered = SparkEntry.oracleSql.toSeq.sortBy(_._1).collect {
      case (name, sql) if HeadroomAudit.suspects(sql).nonEmpty &&
          !HeadroomAudit.entries.contains(name) =>
        s"$name: ${HeadroomAudit.suspects(sql).take(3).mkString(" ; ")}"
    }
    assert(uncovered.isEmpty,
      s"unaudited decimal/HUGEINT products in oracle SQL:\n${uncovered.mkString("\n")}")
  }

  test("every wide-integer product in Scala query source has an entry") {
    val uncovered = scalaBlocks.toSeq.sortBy(_._1).collect {
      case (name, block) if SparkEntry.queries.contains(name) &&
          HeadroomAudit.suspects(block).nonEmpty &&
          !HeadroomAudit.entries.contains(name) =>
        s"$name: ${HeadroomAudit.suspects(block).take(3).mkString(" ; ")}"
    }
    assert(uncovered.isEmpty,
      s"unaudited decimal/HUGEINT products in Scala source:\n${uncovered.mkString("\n")}")
  }

  /** Comment stripping for whole-file scans: remove BLOCK comments
    * (scaladoc prose mentions of DECIMAL(38/HUGEINT and `a * b` would
    * otherwise flag) and `//` lines, but KEEP code lines that merely
    * START with `*` — that is this codebase's multiplication-
    * continuation style (`sum(col("a").cast(...)` newline
    * `  * col("b"))`), i.e. exactly the product lines the scan exists
    * to see. (The first cut stripped leading-`*` lines and was blind
    * to them — caught by the round-14 self-review.)
    */
  private def stripComments(raw: String): String =
    "(?s)/\\*.*?\\*/".r.replaceAllIn(raw, "")
      .linesIterator.filterNot(_.trim.startsWith("//")).mkString("\n")

  /** Whole-file comment-stripped source of every OTHER main package —
    * operators/, similarity/, streaming/, eval/, model/, prep/,
    * harness/, functions/, expressions/, … (VERDICT r13 #1: shared
    * operator machinery is exactly where the next wide-integer product
    * will be written, and the per-query block scan above never sees
    * it). Keyed `file:<basename>`; a flagged file needs a
    * `file:<basename>` row in HeadroomAudit.entries.
    */
  private lazy val nonQueryFiles: Map[String, String] = {
    val root = java.nio.file.Paths.get("src/main/scala/graft")
    val files = java.nio.file.Files.walk(root).toArray.toSeq
      .map(_.asInstanceOf[java.nio.file.Path])
      .filter(p => p.toString.endsWith(".scala")
        && !p.toString.contains("/queries/"))
    assert(files.size > 30, s"package walk looks broken: ${files.size} files")
    files.map { p =>
      s"file:${p.getFileName}" ->
        stripComments(java.nio.file.Files.readString(p))
    }.toMap
  }

  test("every wide-integer product in NON-query main source has an entry " +
      "(operators/similarity/streaming/eval/model/... — VERDICT r13 #1)") {
    val uncovered = nonQueryFiles.toSeq.sortBy(_._1).collect {
      case (key, src) if HeadroomAudit.suspects(src).nonEmpty &&
          !HeadroomAudit.entries.contains(key) =>
        s"$key: ${HeadroomAudit.suspects(src).take(3).mkString(" ; ")}"
    }
    assert(uncovered.isEmpty,
      "unaudited decimal/HUGEINT products in non-query main packages " +
        s"(add a file:<name> Headroom entry):\n${uncovered.mkString("\n")}")
  }

  test("the non-query scan fires on an operators-style planted product " +
      "(positive control THROUGH the production stripping path)") {
    // what a future operators/ helper computing a decimal cross-product
    // looks like to the file scanner — written in the codebase's own
    // leading-`*` multiplication-continuation style, THROUGH the same
    // stripComments the real scan applies (a control that bypassed the
    // stripping could stay green while the production path went blind)
    val planted =
      """package graft.operators
        |/** A sketch merge.
        |  * prose product mention: n_a * n_b in DECIMAL(38,0) — ignored.
        |  */
        |object RangeSketch {
        |  // line comment: another n_a * n_b HUGEINT mention — ignored
        |  def merge(df: DataFrame): DataFrame =
        |    df.select(sum(col("n_lo").cast("decimal(38,0)")
        |      * col("n_hi").cast("decimal(38,0)")).as("cross"))
        |}""".stripMargin
    val hits = HeadroomAudit.suspects(stripComments(planted))
    // the column-name quote ends the operand capture, so the recorded
    // site is the `) * col(` product frame — presence is what matters
    assert(hits.nonEmpty && hits.exists(_.contains("* col(")),
      s"the planted continuation-style product must be flagged after " +
        s"stripping, got: $hits")
    // and a file where the ONLY mentions are comment prose stays clean
    val prose =
      """package graft.operators
        |/** decimal(38,0) discussion: n_lo * n_hi would overflow. */
        |// and HUGEINT too: n_a * n_b
        |object RangeSketch { val k = 1 }""".stripMargin
    assert(HeadroomAudit.suspects(stripComments(prose)).isEmpty,
      "comment-only mentions must not flag after stripping")
  }

  test("no stale entries: every audited name is flagged by a scanner") {
    val stale = HeadroomAudit.entries.keySet.filter { name =>
      val sqlHit = SparkEntry.oracleSql.get(name)
        .exists(HeadroomAudit.suspects(_).nonEmpty)
      val srcHit = scalaBlocks.get(name)
        .exists(HeadroomAudit.suspects(_).nonEmpty)
      // file:<name> entries (the non-query package drill) are live as
      // long as their file still carries a suspect product
      val fileHit = nonQueryFiles.get(name)
        .exists(HeadroomAudit.suspects(_).nonEmpty)
      !sqlHit && !srcHit && !fileHit
    }
    assert(stale.isEmpty, s"headroom entries nothing flags anymore: $stale")
  }

  test("every entry states a numeric bound and its pins are still present") {
    val broken = Seq.newBuilder[String]
    for ((name, h) <- HeadroomAudit.entries.toSeq.sortBy(_._1)) {
      if (!"[0-9](e|E)[0-9]".r.findFirstIn(h.bound).isDefined)
        broken += s"$name: bound states no power-of-ten magnitude"
      // a query entry's pins anchor in its oracle SQL or Scala block;
      // a file: entry's pins anchor in that file's stripped source
      val sql = SparkEntry.oracleSql.getOrElse(name,
        scalaBlocks.getOrElse(name, nonQueryFiles.getOrElse(name, "")))
      for (pin <- h.pins if !sql.contains(pin))
        broken += s"$name: missing pin «$pin»"
    }
    assert(broken.result().isEmpty,
      s"headroom discipline drifted:\n${broken.result().mkString("\n")}")
  }

  test("a file: entry is satisfiable end-to-end (the remediation the " +
      "non-query drill prescribes actually closes its loop)") {
    // simulate the full lifecycle on synthetic maps mirroring the three
    // tests above: a planted operators file with a suspect product, plus
    // its file:<name> entry — flagged, not stale, pins resolvable
    val fileText = stripComments(
      """object RangeSketch {
        |  val cross = sum(col("n_lo").cast("decimal(38,0)")
        |    * col("n_hi").cast("decimal(38,0)"))
        |}""".stripMargin)
    val entry = HeadroomAudit.Headroom(
      "n_lo·n_hi ≤ 1e13·1e13 = 1e26 in decimal38",
      Seq("* col(\"n_hi\").cast(\"decimal(38,0)\")"))
    assert(HeadroomAudit.suspects(fileText).nonEmpty,
      "the planted file must be flagged (drill trigger)")
    assert(entry.pins.forall(fileText.contains),
      "the entry's pins must anchor in the stripped file text")
    assert("[0-9](e|E)[0-9]".r.findFirstIn(entry.bound).isDefined,
      "the entry's bound must state a magnitude")
  }

  test("detector fires on the round-11 a28 overflow text, replayed verbatim") {
    // the exact reject_05 form 992f140 replaced: d_num²·1e6 overflows
    // decimal38/HUGEINT past d_num ≈ 3.2e15 (billion-point KS samples
    // reach d_num ≤ n_a·n_b ≈ 2.5e17)
    val r11a28 =
      """CAST(CAST(d_num AS HUGEINT) * 10000
        |    // (CAST(n_a AS HUGEINT) * n_b) AS BIGINT) AS ks_x1e4,
        |  CAST(CAST(d_num AS HUGEINT) * d_num * 1000000
        |    > 1844164 * CAST(n_a + n_b AS HUGEINT) * n_a * n_b AS INT)
        |    AS reject_05""".stripMargin
    val hits = HeadroomAudit.suspects(r11a28)
    assert(hits.nonEmpty, "the r11 a28 unbounded square must be flagged")
    assert(hits.exists(_.contains("* d_num")),
      s"the d_num * d_num square specifically must be among: $hits")
  }

  test("detector fires on Scala-side decimal products too (block form)") {
    // the Scala-source face of the r11 class: a dec38-cast product of
    // two columns inside a query body, as the block scanner sees it
    val block =
      """        val st = perUser.agg(
        |          sum(col("x").cast("decimal(38,0)")
        |            * col("y").cast("decimal(38,0)")).as("sxy"))""".stripMargin
    assert(HeadroomAudit.suspects(block).nonEmpty,
      "a decimal(38,0) column product in Scala source must be flagged")
    // and a constant-factor Scala scaling stays out of scope
    assert(HeadroomAudit.suspects(
      """val s = sum(col("x").cast("decimal(38,0)") * 100)""").isEmpty)
  }

  test("detector fires on const·var·var chains (overlapping product sites)") {
    // ADVICE r13: with a consuming right operand, `2 * n1` (filtered as
    // constant) swallowed `n1`, so the unbounded `n1 * n2` that follows
    // was never examined. The lookahead form must flag it.
    val hits = HeadroomAudit.suspects(
      "SELECT CAST(2 * n1 * n2 AS HUGEINT) FROM t")
    assert(hits.exists(h => h.contains("n1") && h.contains("* n2")),
      s"the n1 * n2 tail of a const-led chain must be flagged, got: $hits")
    // a34's real shape: constant, then a cast, then the second variable
    assert(HeadroomAudit.suspects(
      "nullif(2 * CAST(n1 AS HUGEINT) * n2, 0)").nonEmpty)
    // and an all-constant chain stays out of scope
    assert(HeadroomAudit.suspects(
      "SELECT CAST(x AS HUGEINT) * 100 * 1000 FROM t")
      .forall(h => !h.contains("100 * 1000")))
  }

  test("detector ignores constant scalings and non-wide-integer texts") {
    // constant factors only shift magnitude by a known amount
    assert(HeadroomAudit.suspects(
      "SELECT CAST(x AS HUGEINT) * 1000000 FROM t").isEmpty)
    // products outside any HUGEINT/DECIMAL(38 context are out of scope
    assert(HeadroomAudit.suspects(
      "SELECT a * b FROM t").isEmpty)
    // and a wide-integer nonconstant product IS in scope
    assert(HeadroomAudit.suspects(
      "SELECT CAST(a AS HUGEINT) * b FROM t").nonEmpty)
  }
}
