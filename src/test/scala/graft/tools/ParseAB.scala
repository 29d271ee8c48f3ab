package graft.tools

import graft.SparkSpec.Sf0_1
import org.apache.spark.sql.functions._

/** A/B harness for the F1 UDTF forms (test scope — dev evidence only):
  * times the native Catalyst Generator (`extractTemplatesRows`) against
  * the `posexplode(udf(...))` fallback over the synthetic page corpus,
  * same downstream shape (supported-template filter + count of every
  * generated column, so neither form can prune the params map).
  *
  *   sbt "Test/runMain graft.tools.ParseAB <sf dir> 3"
  */
object ParseAB {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else Sf0_1
    val iters = if (args.length > 1) args(1).toInt else 3
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = graft.Session.local(cpus)
    spark.sparkContext.setLogLevel("WARN")
    val pages = graft.queries.Citations.pages(spark, sfDir).cache()
    pages.count() // materialize: time the parse, not the corpus synth

    def udfForm() = pages.select(col("page_id"),
        posexplode(graft.parse.TemplateFunctions.extractTemplates(col("wikitext")))
          .as(Seq("ref_pos", "tmpl")))
      .select(col("page_id"), col("ref_pos"),
        lower(col("tmpl.name")).as("name"), col("tmpl.params").as("params"))
      .filter(col("name").isin(graft.wcd.ReferenceSchema.SupportedTemplates: _*))
      .select(count(lit(1)), sum(col("ref_pos")), sum(size(col("params"))))

    def genForm() = pages.select(col("page_id"),
        graft.parse.TemplateFunctions.extractTemplatesRows(col("wikitext"))
          .as(Seq("ref_pos", "tmpl_name", "tmpl_params")))
      .select(col("page_id"), col("ref_pos"),
        lower(col("tmpl_name")).as("name"), col("tmpl_params").as("params"))
      .filter(col("name").isin(graft.wcd.ReferenceSchema.SupportedTemplates: _*))
      .select(count(lit(1)), sum(col("ref_pos")), sum(size(col("params"))))

    def time(label: String)(mk: () => org.apache.spark.sql.DataFrame): Unit = {
      val runs = (1 to iters).map { _ =>
        val t0 = System.nanoTime()
        mk().collect()
        (System.nanoTime() - t0) / 1e9
      }
      println(f"PARSE_AB $label%-10s min=${runs.min}%.3f runs=${runs.map(t => f"$t%.2f").mkString(",")}")
    }
    // interleave so JIT/page-cache drift can't favor whichever runs last
    time("udf")(() => udfForm())
    time("generator")(() => genForm())
    time("udf")(() => udfForm())
    time("generator")(() => genForm())

    // F4 stage A/B: key normalization over the extracted params maps —
    // the Scala UDF (converter round trip) vs the native FixParamsF
    // (in-place MapData walk). Same downstream aggregate so neither
    // form can prune the map.
    val tmpls = pages.select(
        graft.parse.TemplateFunctions.extractTemplatesRows(col("wikitext"))
          .as(Seq("ref_pos", "tmpl_name", "tmpl_params")))
      .cache()
    tmpls.count()
    def f4Udf() = tmpls.select(graft.ReferenceForms.fixParamsUdf(col("tmpl_params")).as("p"))
      .select(count(lit(1)), sum(size(col("p"))), sum(size(map_keys(col("p")))))
    def f4Native() = tmpls.select(graft.wcd.Extract.fixParams(col("tmpl_params")).as("p"))
      .select(count(lit(1)), sum(size(col("p"))), sum(size(map_keys(col("p")))))
    time("f4_udf")(() => f4Udf())
    time("f4_native")(() => f4Native())
    time("f4_udf")(() => f4Udf())
    time("f4_native")(() => f4Native())
    spark.stop()
  }
}
