package graft.operators

import scala.jdk.CollectionConverters._

import graft.TestSpark
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.scalacheck.{Gen, Prop, Properties}

/** Property check of the one-aggregate entity merge against the shape it
  * replaces: dedup each source on the key (keep-first = min over the
  * attribute struct), chain full-outer joins on the key, coalesce in
  * priority order. Random 1–4 sources with duplicate keys, null keys, null
  * values and missing attributes; provenance on. */
object EntityMergeProperties extends Properties("EntityMerge") {
  private lazy val spark = TestSpark.spark

  // each sample is a few tiny Spark jobs
  override def overrideParameters(p: org.scalacheck.Test.Parameters): org.scalacheck.Test.Parameters =
    p.withMinSuccessfulTests(25)

  private val Attrs = Seq("a", "b", "c")

  /** (attributes present, rows of (key, values of those attributes)). */
  private val genSource: Gen[(Seq[String], List[(Option[Long], Seq[Option[String]])])] = for {
    present <- Gen.someOf(Attrs).map(s => Attrs.filter(s.contains))
    n <- Gen.choose(0, 8)
    rows <- Gen.listOfN(n, for {
      k <- Gen.frequency(1 -> Gen.const(None), 5 -> Gen.choose(0L, 5L).map(Some(_)))
      vs <- Gen.listOfN(present.size, Gen.option(Gen.oneOf("x", "y", "z")))
    } yield (k, vs))
  } yield (present, rows)

  private def frame(present: Seq[String], rows: List[(Option[Long], Seq[Option[String]])]): DataFrame = {
    val schema = StructType(StructField("id", LongType) +: present.map(StructField(_, StringType)))
    val data = rows.map { case (k, vs) => Row.fromSeq(k.map(Long.box).orNull +: vs.map(_.orNull)) }
    spark.createDataFrame(data.asJava, schema)
  }

  /** Per-source dedup, then a chain of full-outer joins on the key. */
  private def joinChain(sources: Seq[DataFrame], key: String, attrs: Seq[String]): DataFrame = {
    val prepared = sources.zipWithIndex.map { case (df, i) =>
      val names = attrs.map(a => s"${a}__$i")
      df.select(col(key) +: attrs.map(a =>
          (if (df.columns.contains(a)) col(a) else lit(null)).as(s"${a}__$i")): _*)
        .groupBy(col(key)).agg(min(struct(names.map(col): _*)).as("__m"))
        .select(col(key) +: names.map(n => col(s"__m.$n").as(n)): _*)
    }
    val joined = prepared.reduce((l, r) => l.join(r, Seq(key), "full_outer"))
    val resolved = attrs.map(a => coalesce(sources.indices.map(i => col(s"${a}__$i")): _*).as(a))
    val prov = attrs.map { a =>
      val branches = sources.indices.map(i => (col(s"${a}__$i").isNotNull, lit(s"src$i")))
      branches.tail.foldLeft(when(branches.head._1, branches.head._2)) {
        case (acc, (c, v)) => acc.when(c, v)
      }.as(s"${a}_src")
    }
    joined.select((col(key) +: (resolved ++ prov)): _*)
  }

  private def rows(df: DataFrame): Seq[String] = df.collect().map(_.toSeq.mkString("|")).toSeq.sorted

  property("merge equals the dedup + full-outer-join chain") =
    Prop.forAll(Gen.choose(1, 4).flatMap(Gen.listOfN(_, genSource))) { specs =>
      val sources = specs.map { case (present, rs) => frame(present, rs) }
      val got = EntityMerge.merge(sources, "id", Attrs, provenance = true)
      got.columns.toSeq == Seq("id") ++ Attrs ++ Attrs.map(a => s"${a}_src") &&
        rows(got) == rows(joinChain(sources, "id", Attrs))
    }
}
