package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The salted/bucketed two-phase algorithms must equal their naive
  * single-window forms on data the test tables don't exercise: heavy
  * skew (one giant group), ties, empty-ish groups, and bucket counts
  * that don't divide the data evenly. The oracle gate already proves
  * equality on the corpus; these pin the ALGEBRA itself.
  */
class TwoPhaseSpec extends AnyFunSuite with TestSession {

  /** Skewed synthetic docs: group g0 holds 80% of rows; scores collide
    * heavily so tie-breaks matter; ids are shuffled (i*37 % n).
    */
  private def skewed(n: Int): DataFrame = {
    import spark.implicits._
    (0 until n).map { i =>
      val id = (i.toLong * 37) % n
      val g = if (i % 10 < 8) "g0" else s"g${1 + i % 3}"
      (id, g, (id % 7).toInt)   // score in [0, 6]: many ties
    }.toDF("doc_id", "source", "n_chars")
  }

  test("salted two-phase top-k == naive window, under skew and ties") {
    val d = skewed(2000)
    for (k <- Seq(1, 5, 20); salts <- Seq(2, 8, 13)) {
      val local = Window.partitionBy(col("source"),
        pmod(col("doc_id"), lit(salts)))
        .orderBy(col("n_chars").desc, col("doc_id"))
      val global = Window.partitionBy(col("source"))
        .orderBy(col("n_chars").desc, col("doc_id"))
      val twoPhase = d.withColumn("lrk", row_number().over(local))
        .filter(col("lrk") <= k).drop("lrk")
        .withColumn("rk", row_number().over(global)).filter(col("rk") <= k)
        .select("source", "doc_id", "rk")
      val naive = d.withColumn("rk", row_number().over(global))
        .filter(col("rk") <= k).select("source", "doc_id", "rk")
      assert(twoPhase.exceptAll(naive).isEmpty &&
        naive.exceptAll(twoPhase).isEmpty,
        s"mismatch at k=$k salts=$salts")
    }
  }

  test("bucketed prefix sum == naive cumulative window, any bucket count") {
    val d = skewed(2000).withColumn("h",
      pmod(col("doc_id") * 2654435761L, lit(1000000007L)))
      .withColumn("n_tok", col("n_chars").cast("long") + 1)
    val naiveW = Window.partitionBy("source").orderBy(col("h"), col("doc_id"))
    val naive = d.withColumn("cum", sum("n_tok").over(naiveW))
      .select("source", "doc_id", "cum")
    for (buckets <- Seq(1, 4, 16, 31)) {
      val bsz = 1000000007L / buckets + 1
      val db = d.withColumn("bkt", (col("h") / bsz).cast("int"))
      val local = Window.partitionBy("source", "bkt")
        .orderBy(col("h"), col("doc_id"))
      val off = Window.partitionBy("source").orderBy("bkt")
        .rowsBetween(Window.unboundedPreceding, -1)
      val offsets = db.groupBy("source", "bkt")
        .agg(sum("n_tok").as("btok"))
        .select(col("source"), col("bkt"),
          coalesce(sum("btok").over(off), lit(0L)).as("boff"))
      val got = db.withColumn("lcum", sum("n_tok").over(local))
        .join(broadcast(offsets), Seq("source", "bkt"))
        .select(col("source"), col("doc_id"),
          (col("lcum") + col("boff")).as("cum"))
      assert(got.exceptAll(naive).isEmpty && naive.exceptAll(got).isEmpty,
        s"mismatch at buckets=$buckets")
    }
  }
}
