package graft.operators

import graft.TestSpark
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class CoreOperatorsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  // ------------------------------------------------------------ EntityMerge

  test("EntityMerge: first non-null source wins, with provenance") {
    val src0 = Seq[(Long, Option[String], Option[Double])]((1L, Some("A0"), Some(10.0)), (2L, None, Some(20.0)))
      .toDF("id", "name", "bal")
    val src1 = Seq[(Long, Option[String], Option[Double])]((1L, Some("A1"), None), (2L, Some("B1"), None), (3L, Some("C1"), None))
      .toDF("id", "name", "bal")
    val out = EntityMerge.merge(Seq(src0, src1), "id", Seq("name", "bal"), provenance = true)
      .orderBy("id").collect()
    assert(out.map(r => (r.getLong(0), r.getString(1), r.getString(3))).toSeq ==
      Seq((1L, "A0", "src0"), (2L, "B1", "src1"), (3L, "C1", "src1")))
    // bal present only in src0
    assert(out.map(_.getAs[Any]("bal")).toSeq == Seq(10.0, 20.0, null))
  }

  test("EntityMerge: duplicate keys in a source are deduped, not multiplied") {
    val src0 = Seq((1L, "dup-b"), (1L, "dup-a"), (2L, "x")).toDF("id", "name")
    val src1 = Seq((1L, "fallback")).toDF("id", "name")
    val out = EntityMerge.merge(Seq(src0, src1), "id", Seq("name")).orderBy("id").collect()
    assert(out.length == 2) // not 3: the two id=1 rows collapse
    // deterministic keep-first by attribute order: "dup-a" < "dup-b"
    assert(out.head.getString(1) == "dup-a")
  }

  test("EntityMerge: null-key rows from two sources stay separate") {
    val src0 = Seq[(Option[Long], String)]((None, "n0-b"), (None, "n0-a"), (Some(1L), "k0")).toDF("id", "name")
    val src1 = Seq[(Option[Long], String)]((None, "n1"), (Some(1L), "k1")).toDF("id", "name")
    val out = EntityMerge.merge(Seq(src0, src1), "id", Seq("name"), provenance = true)
      .collect().map(r => (Option(r.get(0)), r.getString(1), r.getString(2))).toSet
    // a source's null keys collapse like any key; across sources they never match
    assert(out == Set((Some(1L), "k0", "src0"), (None, "n0-a", "src0"), (None, "n1", "src1")))
  }

  // ----------------------------------------------------------- SnapshotDiff

  test("SnapshotDiff: added / removed / changed, unchanged dropped") {
    val oldS = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v")
    val newS = Seq((2L, "b"), (3L, "CHANGED"), (4L, "d")).toDF("k", "v")
    val out = SnapshotDiff.diff(oldS, newS, "k", Seq("v"))
      .select("k", "status").as[(Long, String)].collect().toMap
    assert(out == Map(1L -> "removed", 3L -> "changed", 4L -> "added"))
  }

  // ---------------------------------------------------------------- EavMelt

  test("EavMelt: typed values, nulls dropped, quoted concepts safe") {
    val df = Seq(
      (1L, Some(1.5), Some("txt")),
      (2L, None, Some("only-text")),
      (3L, None, None),
    ).toDF("id", "num", "str")
    val out = EavMelt.melt(df, "id", Seq(
      ("num", "Crohn's num", EavMelt.NumValue), // quote in concept code
      ("str", "plain", EavMelt.TextValue)))
    val rows = out.orderBy("entity_id", "concept_cd").collect()
    // id=3 contributes nothing (all nulls)
    assert(rows.map(_.getLong(0)).toSeq == Seq(1L, 1L, 2L))
    assert(rows.map(_.getString(1)).contains("Crohn's num"))
    val numRow = rows.find(_.getString(1) == "Crohn's num").get
    assert(numRow.getDouble(2) == 1.5 && numRow.isNullAt(3))
  }

  // ---------------------------------------------------------- CodebookDecode

  test("CodebookDecode: decodes known codes, passes unknown through") {
    val facts = Seq(("1", "x"), ("2", "y"), ("9", "z")).toDF("sex", "other")
    val cb = Seq(("sex", "1", "male"), ("sex", "2", "female")).toDF("column_name", "code", "label")
    val out = CodebookDecode.decode(facts, "sex", cb)
      .select("sex").as[String].collect().sorted.toSeq
    assert(out == Seq("9", "female", "male")) // 9 passes through unchanged
  }

  test("CodebookDecode: driver-side codebook rows decode like the broadcast join") {
    val facts = Seq[(Option[String], Option[String], Int)](
      (Some("1"), Some("2"), 0), (Some("9"), None, 1), (None, Some("1"), 2), (Some("2"), Some("7"), 3))
      .toDF("sex", "consent", "n")
    val rows = Seq(("sex", "1", "male"), ("sex", "2", "female"), ("consent", "1", "yes"), ("consent", "2", "no"),
      ("other", "1", "unused"))
    val cols = Seq("sex", "consent")
    val bySeq = CodebookDecode.decodeAll(facts, cols, rows)
    val byJoin = CodebookDecode.decodeAll(facts, cols, rows.toDF("column_name", "code", "label"))
    assert(bySeq.columns.toSeq == facts.columns.toSeq)
    assert(bySeq.schema == byJoin.schema)
    val got = bySeq.as[(Option[String], Option[String], Int)].collect().sortBy(_._3).toSeq
    assert(got == byJoin.as[(Option[String], Option[String], Int)].collect().sortBy(_._3).toSeq)
    // unmatched (9, 7) and null codes pass through
    assert(got == Seq((Some("male"), Some("no"), 0), (Some("9"), None, 1), (None, Some("yes"), 2),
      (Some("female"), Some("7"), 3)))
  }

  test("CodebookDecode: a (column, code) bound twice is rejected up front") {
    val facts = Seq("1", "2").toDF("sex")
    val ex = intercept[IllegalArgumentException](CodebookDecode.decodeAll(facts, Seq("sex"),
      Seq(("sex", "1", "male"), ("sex", "1", "m"), ("sex", "2", "female"))))
    assert(ex.getMessage.contains("(sex,1)"))
    // the join form of the same codebook multiplies the fact row
    val joined = CodebookDecode.decodeAll(facts, Seq("sex"),
      Seq(("sex", "1", "male"), ("sex", "1", "m"), ("sex", "2", "female")).toDF("column_name", "code", "label"))
    assert(joined.count() == 3)
  }

  test("CodebookDecode.fromFile: reference format — column SETS, tab padding, blank lines") {
    val path = TestSpark.tempDir("graft_cb_spec").resolve("codebook.txt")
    // group 2 binds ONE code list to TWO columns (the reference's
    // SIGYN IFCGIV… multi-column binding); stray padding tabs throughout
    java.nio.file.Files.write(path,
      ("1\tSEX\t\t\t1\tmale\t2\tfemale\t9\tunknown\n" +
        "\n" +
        "2\tCONSENT REFUSED\t\t1\tyes\t2\tno\n").getBytes("UTF-8"))
    val cb = CodebookDecode.fromFile(spark, path.toString)
      .as[(String, String, String)].collect().toSet
    assert(cb == Set(
      ("SEX", "1", "male"), ("SEX", "2", "female"), ("SEX", "9", "unknown"),
      ("CONSENT", "1", "yes"), ("CONSENT", "2", "no"),
      ("REFUSED", "1", "yes"), ("REFUSED", "2", "no")))
    // and the frame drives decodeAll like any inline codebook
    val facts = Seq(("1", "2"), ("9", "1")).toDF("SEX", "CONSENT")
    val out = CodebookDecode.decodeAll(facts, Seq("SEX", "CONSENT"), cb.toSeq.toDF("column_name", "code", "label"))
      .as[(String, String)].collect().toSet
    assert(out == Set(("male", "no"), ("unknown", "yes")))
  }

  // --------------------------------------------------------------- Ontology

  test("Ontology: config-driven arbitrary-depth concept paths") {
    val root = Ontology.loadResource()
    val paths = Ontology.allPaths(root)
    assert(paths.contains("\\All Segments\\Home\\Indoor\\Furniture\\")) // depth 4
    val anc = Ontology.conceptAncestors(root).groupMap(_._1)(_._2)
    assert(anc("FURNITURE").toSet == Set(
      "\\All Segments\\",
      "\\All Segments\\Home\\",
      "\\All Segments\\Home\\Indoor\\",
      "\\All Segments\\Home\\Indoor\\Furniture\\"))
    assert(anc("BUILDING").toSet == Set(
      "\\All Segments\\", "\\All Segments\\Construction\\"))
  }

  test("Ontology: parseJson handles nodes without children/concepts") {
    val root = Ontology.parseJson("""{"name":"R","children":[{"name":"leaf"}]}""")
    assert(Ontology.allPaths(root) == Seq("\\R\\", "\\R\\leaf\\"))
    assert(Ontology.conceptAncestors(root).isEmpty)
  }
}
