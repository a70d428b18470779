package perfbench

import org.apache.spark.PerfbenchBridge
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** Times each native `plans` kernel through its SQL function on the run's
  * inputs. Every probe reads an in-memory input frame, replicated on the fly
  * (`explode`) up to a fixed row count per kernel, so that the cheapest
  * kernel still takes a measurable share of executor CPU and the count
  * does not depend on the input scale. It runs once with the kernel and
  * once with a base projection that reads the same arguments but only emits
  * their sizes; the metric is the executor CPU difference per row (median
  * of three of each).
  */
object KernelProbes {
  private final case class Probe(fn: String, input: DataFrame, rows: Long, base: Seq[String],
                                 kernel: Seq[String])

  private def median(xs: Seq[Double]): Double = xs.sorted.apply(xs.length / 2)

  def run(spark: SparkSession, data: String, cpus: Int, recorder: Recorder,
          clock: Clock): Seq[(String, Double)] = {
    def pinned(df: DataFrame): DataFrame = {
      val p = df.repartition(cpus).persist()
      p.count()
      p
    }
    val byDoc = Window.orderBy("doc_id")
    val docs = pinned(Tables.documents(spark, data)
      .select(col("doc_id"), split(col("text"), " ").as("ws"),
        substring(col("text"), 1, 32).as("s"))
      .withColumn("h", transform(col("ws"), w => call_function("graft_md5_long", w, lit(15))))
      .withColumn("u", array_sort(array_distinct(col("h"))))
      .select(col("ws"), col("s"), col("h"), col("u"),
        lead(col("s"), 1).over(byDoc).as("s2"),
        lead(col("h"), 1).over(byDoc).as("h2"),
        lead(col("u"), 1).over(byDoc).as("u2"))
      .filter(col("h2").isNotNull))
    val words = pinned(Tables.documents(spark, data)
      .select(explode(split(col("text"), " ")).as("w")))
    val vecs = pinned(Tables.embeddings(spark, data)
      .select(col("vec_id"), transform(col("embedding"), _.cast("double")).as("e"))
      .select(col("e"), lead(col("e"), 1).over(Window.orderBy("vec_id")).as("e2"))
      .filter(col("e2").isNotNull))

    val probes = Seq(
      Probe("graft_dot", vecs, 2000000L, Seq("size(e) + size(e2)"), Seq("graft_dot(e, e2)")),
      Probe("graft_sorted_intersect", docs, 400000L, Seq("size(u) + size(u2)"),
        Seq("graft_sorted_intersect(u, u2)")),
      Probe("graft_simhash", docs, 50000L, Seq("size(h)"), Seq("graft_simhash(h)")),
      Probe("graft_jaro_winkler", docs, 50000L, Seq("length(s) + length(s2)"),
        Seq("graft_jaro_winkler(s, s2)")),
      Probe("graft_lcs", docs, 20000L, Seq("size(h) + size(h2)"), Seq("graft_lcs(h, h2)")),
      Probe("graft_md5_long", words, 1000000L, Seq("length(w)"), Seq("graft_md5_long(w, 15)")),
      Probe("graft_shingles", docs, 10000L, Seq("size(ws)"), Seq("graft_shingles(ws, 3)")),
      Probe("graft_topfreq", words, 1000000L, Seq("count(w)"), Seq("graft_topfreq(w, 16)")))

    def cpuOf(exprs: Seq[String], input: DataFrame): Long = {
      val t0 = clock.now()
      Driver.materialize(input.selectExpr(exprs: _*))
      val t1 = clock.now()
      PerfbenchBridge.flushListeners(spark.sparkContext)
      recorder.cpuNs(t0 -> t1)
    }
    val out = probes.map { p =>
      val n = p.input.count()
      val copies = math.max(1L, (p.rows + n - 1) / n)
      val input = p.input.withColumn("copy", explode(sequence(lit(1L), lit(copies))))
      val rows = (n * copies).toDouble
      cpuOf(p.kernel, input) // compiles the kernel's code outside the measurement
      val runs = (1 to 3).map(_ => (cpuOf(p.base, input), cpuOf(p.kernel, input)))
      val base = median(runs.map(_._1.toDouble))
      val kern = median(runs.map(_._2.toDouble))
      s"plans.kernel.${p.fn}_ns_per_row" -> math.max(0.0, kern - base) / rows
    }
    Seq(docs, words, vecs).foreach(_.unpersist())
    out
  }
}
