package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Scratch timer for the near-dup chain internals: shingleArrays → df-order
  * → prefix candidates → verify → CC loop, each phase forced separately.
  */
object CcProbe {
  def t[T](label: String)(f: => T): T = {
    val t0 = System.nanoTime()
    val r = f
    println(f"[cc] $label%-44s ${(System.nanoTime() - t0) / 1e9}%7.2f s")
    r
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = GraftSession.configure(
      SparkSession.builder().master("local[32]").appName("graft-cc-probe"), 32)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import graft.operators.Dedup

    val docs = Tables.fanout(Tables.documents(spark, sfDir))
      .filter(col("doc_id") % 2 === 0)
    // warm
    Dedup.survivors(docs, 3).write.format("noop").mode("overwrite").save()

    (1 to 2).foreach { round =>
      println(s"== round $round ==")
      val base = t("shingleArrays")(
        Dedup.shingleArrays(docs, 3).localCheckpoint(true))
      println(s"   docs=${base.count()}")
      val ex = base.select(col("doc_id"), explode(col("sh")).as("s"))
      val dfreq = ex.groupBy(col("s")).agg(count(lit(1)).as("df"))
      val arrays = t("df-ordered re-sort")(
        ex.join(dfreq, Seq("s"))
          .groupBy(col("doc_id"))
          .agg(transform(array_sort(collect_list(struct(col("df"), col("s")))),
            x => x.getField("s")).as("sh")).localCheckpoint(true))
      val docsA = arrays.withColumn("n_sh", size(col("sh")))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val threshold = 0.8
      val prefLen = (col("n_sh") - ceil(col("n_sh") * threshold - 1e-9) + 1).cast("int")
      val pref = docsA.select(col("doc_id"), col("n_sh"),
        explode(slice(col("sh"), lit(1), prefLen)).as("s"))
      val cands = t("prefix candidates")(
        pref.as("a").join(pref.as("b"),
          col("a.s") === col("b.s") && col("a.doc_id") < col("b.doc_id")
            && col("a.n_sh") * threshold <= col("b.n_sh") + 1e-9
            && col("b.n_sh") * threshold <= col("a.n_sh") + 1e-9)
          .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
          .distinct().localCheckpoint(true))
      println(s"   cands=${cands.count()}")
      val verified = t("verify")(
        cands
          .join(docsA.select(col("doc_id").as("doc_a"), col("sh").as("sh_a")), "doc_a")
          .join(docsA.select(col("doc_id").as("doc_b"), col("sh").as("sh_b")), "doc_b")
          .withColumn("common", size(array_intersect(col("sh_a"), col("sh_b"))))
          .withColumn("jaccard", col("common").cast("double")
            / (size(col("sh_a")) + size(col("sh_b")) - col("common")))
          .filter(col("jaccard") >= threshold)
          .select(col("doc_a"), col("doc_b")).localCheckpoint(true))
      docsA.unpersist(blocking = false)
      println(s"   pairs=${verified.count()}")
      val full = t("full nearDupClusters")(
        Dedup.nearDupClusters(docs, 3, threshold).localCheckpoint(true))
      println(s"   clustered=${full.count()}")
    }
    spark.stop()
  }
}
