package graft

import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions._

/** Builds a K× (default 10×) replica of ALL test tables with CONSISTENT
  * foreign keys, for full-surface scale benching (`graft.Bench` pointed at
  * the output dir). Replica i offsets every key column by i·span, where
  * span = max(key)+1 in the BASE table that owns the key — so orders still
  * join their customers, lineitems their orders/parts/suppliers, and no
  * join fans out quadratically the way naive row duplication would
  * (10 copies of both join sides on unchanged keys = 100× matches, which
  * measures the replication bug, not the engine). Dimension tables
  * (region, nation) stay fixed — exactly how TPC-H itself scales.
  *
  * Non-key attributes (text, ts, prices) are copied verbatim: volume
  * grows 10×, content distributions stay identical, which is what makes
  * per-query sf0.1 → sf1 time ratios interpretable as scaling behavior.
  *
  * `runMain graft.ScaleData` → writes `<out>/<table>.parquet` and prints
  * one JSON line with row counts. Env: SPARK_GRAFT_SF_DIR (base,
  * default sf0.1), SPARK_GRAFT_SCALE_K (default 10), SPARK_GRAFT_SCALE_OUT
  * (default /tmp/graft-sf1).
  */
object ScaleData {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val k = sys.env.getOrElse("SPARK_GRAFT_SCALE_K", "10").toInt
    val out = sys.env.getOrElse("SPARK_GRAFT_SCALE_OUT", "/tmp/graft-sf1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession(s"local[$cpus]", cpus.toInt)

    def span(df: DataFrame, key: String): Long =
      df.agg(max(col(key).cast("long"))).head.getLong(0) + 1

    val spans = Map(
      "custkey" -> span(Tables.customer(spark, sfDir), "c_custkey"),
      "orderkey" -> span(Tables.orders(spark, sfDir), "o_orderkey"),
      "partkey" -> span(Tables.part(spark, sfDir), "p_partkey"),
      "suppkey" -> span(Tables.supplier(spark, sfDir), "s_suppkey"),
      "eventid" -> span(Tables.events(spark, sfDir), "event_id"),
      "userid" -> span(Tables.events(spark, sfDir), "user_id"),
      "docid" -> span(Tables.documents(spark, sfDir), "doc_id"),
      "vecid" -> span(Tables.embeddings(spark, sfDir), "vec_id"))

    /** K copies with each (column → span-name) offset applied per replica,
      * key dtypes preserved so downstream loaders see identical schemas.
      * `perturb(i)` lets content columns vary per replica.
      */
    def replicate(df: DataFrame, offsets: (String, String)*)(
        perturb: Int => DataFrame => DataFrame = _ => identity): DataFrame =
      (0 until k).map { i =>
        perturb(i)(offsets.foldLeft(df) { case (acc, (c, sp)) =>
          acc.withColumn(c,
            (col(c) + lit(i * spans(sp))).cast(df.schema(c).dataType))
        })
      }.reduce(_ unionAll _)

    // Replica 0 is the base corpus verbatim; replicas 1..K-1 carry NEW
    // content, not byte-copies — a 10× corpus of exact duplicates makes
    // every LSH/embedding bucket 10× hotter and candidate pairs 100×,
    // which measures the replication artifact, not the engine (that
    // adversarial shape is ScaleExperiment's job, separately). Word
    // suffixes give each replica a disjoint vocabulary (token counts,
    // lengths, and shingle structure keep the base distribution);
    // embedding components shift by a deterministic per-(replica, dim)
    // grid so sign-LSH/IVF buckets spread instead of stacking.
    def docPerturb(i: Int): DataFrame => DataFrame =
      df => if (i == 0) df
      else df.withColumn("text", expr(s"replace(text, ' ', '_r$i ')"))
    def embPerturb(i: Int): DataFrame => DataFrame =
      df => if (i == 0) df
      else df.withColumn("embedding", expr(
        s"transform(embedding, (x, j) -> CAST(x + ((($i * 37 + j) % 11) - 5) * 0.017 AS FLOAT))"))

    val tables: Seq[(String, DataFrame)] = Seq(
      "region" -> Tables.region(spark, sfDir),
      "nation" -> Tables.nation(spark, sfDir),
      "customer" -> replicate(Tables.customer(spark, sfDir), "c_custkey" -> "custkey")(),
      "supplier" -> replicate(Tables.supplier(spark, sfDir), "s_suppkey" -> "suppkey")(),
      "part" -> replicate(Tables.part(spark, sfDir), "p_partkey" -> "partkey")(),
      "orders" -> replicate(Tables.orders(spark, sfDir),
        "o_orderkey" -> "orderkey", "o_custkey" -> "custkey")(),
      "lineitem" -> replicate(Tables.lineitem(spark, sfDir),
        "l_orderkey" -> "orderkey", "l_partkey" -> "partkey", "l_suppkey" -> "suppkey")(),
      "events" -> replicate(Tables.events(spark, sfDir),
        "event_id" -> "eventid", "user_id" -> "userid")(),
      "documents" -> replicate(Tables.documents(spark, sfDir), "doc_id" -> "docid")(docPerturb),
      "embeddings" -> replicate(Tables.embeddings(spark, sfDir), "vec_id" -> "vecid")(embPerturb))

    val counts = tables.map { case (name, df) =>
      df.write.mode(SaveMode.Overwrite).parquet(s"$out/$name.parquet")
      val n = spark.read.parquet(s"$out/$name.parquet").count()
      s""""$name":$n"""
    }
    println(s"""{"scale_out":"$out","k":$k,"base":"$sfDir","rows":{${counts.mkString(",")}}}""")
    spark.stop()
  }
}
