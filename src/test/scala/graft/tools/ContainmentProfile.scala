package graft.tools

import graft.SparkSpec.Sf0_1
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Stage-by-stage timing of DedupOps.containmentPairs on the replicated
  * corpus (dev scratch — attribution for the SCALE.md cores-curve flag). */
object ContainmentProfile {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else Sf0_1
    val reps = if (args.length > 1) args(1).toInt else 10
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = graft.Session.local(cpus)
    spark.sparkContext.setLogLevel("WARN")
    val base = graft.Tables(spark, sfDir, "documents")
    val nBase = base.count()
    val root = graft.TempTrees.scratch("graft-cprof")
    val repl = base.crossJoin(spark.range(reps.toLong).select(col("id").as("rep")))
      .select((col("doc_id") + col("rep") * lit(nBase)).as("doc_id"),
        concat(regexp_replace(col("text"), lit(" "),
          concat(lit("_"), col("rep").cast("string"), lit(" "))),
          lit("_"), col("rep").cast("string")).as("text"))
    val docsPath = root.resolve("docs.parquet").toString
    repl.repartition(64, col("doc_id")).write.parquet(docsPath)
    val docs = spark.read.parquet(docsPath)

    def t(name: String)(body: => Long): Unit = {
      val t0 = System.nanoTime()
      val n = body
      println(f"CPROF $name%-14s ${(System.nanoTime() - t0) / 1e9}%.2f s rows=$n")
    }
    import graft.ops.DedupOps
    val shPath = root.resolve("sh.parquet").toString
    t("shingles") {
      DedupOps.shingleTable(docs, "doc_id", col("text")).write.parquet(shPath); 0L
    }
    val sh = spark.read.parquet(shPath)
    t("sh_count") { sh.count() }
    val threshold = 0.6
    val byDoc = Window.partitionBy(col("doc_id"))
    val dfs = sh.groupBy(col("shingle")).agg(count(lit(1)).as("df"))
    t("dfs") { dfs.count() }
    val prefix = sh.join(dfs, "shingle")
      .withColumn("n_sh", count(lit(1)).over(byDoc))
      .withColumn("rk", row_number().over(byDoc.orderBy(col("df"), col("shingle"))))
      .filter(col("rk") <= floor(lit(1.0 - threshold) * col("n_sh") + lit(1e-6)) + 1)
      .select(col("doc_id").as("id_x"), col("shingle"))
    t("prefix") { prefix.count() }
    val joined = prefix
      .join(sh.select(col("doc_id").as("id_y"), col("shingle")), "shingle")
      .filter(col("id_x") =!= col("id_y"))
    t("cand_raw") { joined.count() }
    val cand = joined.select(col("id_x"), col("id_y")).distinct()
    t("cand") { cand.count() }
    val common = cand
      .join(sh.select(col("doc_id").as("id_x"), col("shingle")), "id_x")
      .join(sh.select(col("doc_id").as("id_y"), col("shingle")), Seq("id_y", "shingle"))
      .groupBy(col("id_x"), col("id_y")).agg(count(lit(1)).as("n_common"))
    t("common") { common.count() }
    t("full_op") { DedupOps.containmentPairs(sh, "doc_id", threshold).count() }
    spark.stop()
  }
}
