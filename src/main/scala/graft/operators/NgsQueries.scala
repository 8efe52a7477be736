package graft.operators

import graft.Q
import graft.sources.{ColSpec, DelimitedConfig, DelimitedSource, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** NGS archive file formats as ingest configs (SURVEY §2.2 closing item).
  *
  * The reference's archived NGS dropzone
  * (test_data_e2e/xx_archive/test_data_NGS/dropzone/&lt;set&gt;/NGS/) feeds cBioPortal
  * staging from two tab-separated formats this module re-expresses as
  * [[DelimitedConfig]]s:
  *
  *  - MAF mutation files (`pmc_test*_WGS.maf.gz` — the public cBioPortal
  *    mutation-annotation format: Hugo_Symbol / Entrez_Gene_Id / Chromosome /
  *    positions / Variant_Classification / Tumor_Sample_Barcode), staged to
  *    the mutated-genes matrix (mutation count per gene × sample);
  *  - `.seg` CNA segment files (`pmc_test_WXS.seg` — header
  *    `Sample Chromosome Start End Num_Probes Segment_Mean`), staged by
  *    overlapping segment intervals with a gene-position table (the
  *    gene × sample copy-number shape behind
  *    `pmc_test_WXS_all_data_by_genes.txt`).
  *
  * Both queries round-trip a deterministic file derived from the star schema
  * (the [[Stage]] content-signature gate keeps the write one-time), read it
  * back through the config-driven source, and aggregate — so the DuckDB
  * oracle can recompute the expected result from the original parquet and
  * the file transport must preserve every row.
  *
  * Scale shapes: the MAF path is scan → map-side derive → one hash
  * aggregate (one shuffle on (gene, sample)). The `.seg` path joins
  * segments to genes with chromosome equality + range overlap; the gene
  * side is BROADCAST (a genome's annotation table is ~20k rows — always
  * broadcastable), so segments never shuffle: chromosome has only ~24
  * distinct values, and a shuffle join keyed on it would put whole
  * chromosomes on single tasks. */
object NgsQueries {

  private val Genes = 200 // distinct gene ids in the synthetic annotation
  private val Samples = 50

  // ------------------------------------------------------------------ MAF

  private val mafConfig = DelimitedConfig(
    delimiter = "\t",
    header = true,
    columns = Seq(
      ColSpec("Hugo_Symbol", "string"),
      ColSpec("Entrez_Gene_Id", "long"),
      ColSpec("Chromosome", "string"),
      ColSpec("Start_Position", "long"),
      ColSpec("End_Position", "long"),
      ColSpec("Variant_Classification", "string"),
      ColSpec("Reference_Allele", "string"),
      ColSpec("Tumor_Seq_Allele2", "string"),
      ColSpec("Tumor_Sample_Barcode", "string")))

  /** Render lineitem as a deterministic MAF file (one mutation row per
    * line item; classification keyed off l_returnflag). */
  private def stageMaf(spark: SparkSession, dir: String): String =
    Stage.path("maf", dir, "lineitem") { p =>
      Tables(dir)(spark).lineitem.select(
        concat(lit("G"), (col("l_partkey") % Genes).cast("string")).as("Hugo_Symbol"),
        (col("l_partkey") % Genes).as("Entrez_Gene_Id"),
        ((col("l_partkey") % 22) + 1).cast("string").as("Chromosome"),
        (col("l_orderkey") * 10 + col("l_linenumber")).as("Start_Position"),
        (col("l_orderkey") * 10 + col("l_linenumber") + 1).as("End_Position"),
        when(col("l_returnflag") === "R", "Missense_Mutation")
          .when(col("l_returnflag") === "A", "Nonsense_Mutation")
          .otherwise("Silent").as("Variant_Classification"),
        lit("A").as("Reference_Allele"),
        lit("T").as("Tumor_Seq_Allele2"),
        concat(lit("S"), (col("l_suppkey") % Samples).cast("string")).as("Tumor_Sample_Barcode"))
        .write
        .option("delimiter", "\t").option("header", "true")
        .csv(p)
    }

  /** MAF → cBioPortal mutated-genes staging: non-silent mutation count per
    * gene × sample. */
  def mafMutations(spark: SparkSession, dir: String): DataFrame = {
    val maf = DelimitedSource.read(spark, stageMaf(spark, dir), mafConfig)
    maf.where(col("Variant_Classification") =!= "Silent")
      .groupBy(col("Hugo_Symbol").as("hugo_symbol"),
        col("Tumor_Sample_Barcode").as("sample_id"))
      .agg(count(lit(1)).as("n_mut"))
  }

  private val mafMutationsSql =
    s"""SELECT 'G' || CAST(l_partkey % $Genes AS VARCHAR) AS hugo_symbol,
       |  'S' || CAST(l_suppkey % $Samples AS VARCHAR) AS sample_id,
       |  COUNT(*) AS n_mut
       |FROM lineitem
       |WHERE l_returnflag IN ('R', 'A')
       |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // ----------------------------------------------------------------- .seg

  private val segConfig = DelimitedConfig(
    delimiter = "\t",
    header = true,
    columns = Seq(
      ColSpec("Sample", "string"),
      ColSpec("Chromosome", "long"),
      ColSpec("Start", "long"),
      ColSpec("End", "long"),
      ColSpec("Num_Probes", "long"),
      ColSpec("Segment_Mean", "double")))

  /** Render a deterministic `.seg` file from orders (one CNA segment per
    * eighth order; integer-derived bounds and a 0.01-grid mean). */
  private def stageSeg(spark: SparkSession, dir: String): String =
    Stage.path("seg", dir, "orders") { p =>
      Tables(dir)(spark).orders
        .where(col("o_orderkey") % 8 === 0)
        .select(
          concat(lit("S"), (col("o_custkey") % Samples).cast("string")).as("Sample"),
          ((col("o_orderkey") % 22) + 1).as("Chromosome"),
          (((col("o_orderkey") * 37) % 900) * 1000).as("Start"),
          (((col("o_orderkey") * 37) % 900) * 1000 + 20000
            + (col("o_orderkey") % 7) * 15000).as("End"),
          ((col("o_orderkey") % 500) + 10).as("Num_Probes"),
          (((col("o_orderkey") % 400) - 200) / lit(100.0)).as("Segment_Mean"))
        .write
        .option("delimiter", "\t").option("header", "true")
        .csv(p)
    }

  /** `.seg` segments ⋈ gene positions (chromosome equality + interval
    * overlap, gene side broadcast) → per gene × sample segment count and
    * integer-scaled mean sum — the continuous copy-number staging shape.
    * Means travel as round(mean·100) longs so both engines sum exactly. */
  def segGeneOverlap(spark: SparkSession, dir: String): DataFrame = {
    val seg = DelimitedSource.read(spark, stageSeg(spark, dir), segConfig)
      .withColumn("mean_c", round(col("Segment_Mean") * 100, 0).cast("long"))
    val genes = Tables(dir)(spark).part
      .select((col("p_partkey") % Genes).as("gene_id")).distinct()
      .select(col("gene_id"),
        ((col("gene_id") % 22) + 1).as("g_chrom"),
        (col("gene_id") * 4000).as("g_start"),
        (col("gene_id") * 4000 + 30000).as("g_end"))
    seg.join(broadcast(genes),
        col("Chromosome") === col("g_chrom")
          && col("Start") <= col("g_end") && col("End") >= col("g_start"))
      .groupBy(concat(lit("G"), col("gene_id").cast("string")).as("hugo_symbol"),
        col("Sample").as("sample_id"))
      .agg(count(lit(1)).as("n_seg"), sum(col("mean_c")).as("sum_mean_c"))
  }

  private val segGeneOverlapSql =
    s"""WITH seg AS (
       |  SELECT 'S' || CAST(o_custkey % $Samples AS VARCHAR) AS sample_id,
       |    (o_orderkey % 22) + 1 AS chrom,
       |    ((o_orderkey * 37) % 900) * 1000 AS seg_start,
       |    ((o_orderkey * 37) % 900) * 1000 + 20000 + (o_orderkey % 7) * 15000 AS seg_end,
       |    CAST(o_orderkey % 400 - 200 AS BIGINT) AS mean_c
       |  FROM orders WHERE o_orderkey % 8 = 0),
       |g AS (
       |  SELECT gene_id, (gene_id % 22) + 1 AS g_chrom, gene_id * 4000 AS g_start,
       |    gene_id * 4000 + 30000 AS g_end
       |  FROM (SELECT DISTINCT p_partkey % $Genes AS gene_id FROM part) ids)
       |SELECT 'G' || CAST(g.gene_id AS VARCHAR) AS hugo_symbol, s.sample_id,
       |  COUNT(*) AS n_seg, CAST(SUM(s.mean_c) AS BIGINT) AS sum_mean_c
       |FROM seg s
       |JOIN g ON s.chrom = g.g_chrom AND s.seg_start <= g.g_end AND s.seg_end >= g.g_start
       |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  val queries: Map[String, Q] = Map(
    "ngs_maf_mutations" -> Q(mafMutations _, mafMutationsSql, Seq(col("hugo_symbol"), col("sample_id"))),
    "ngs_seg_gene_overlap" -> Q(segGeneOverlap _, segGeneOverlapSql, Seq(col("hugo_symbol"), col("sample_id"))),
  )
}
