package panelbench

import org.apache.spark.ml.feature.VectorAssembler
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import scala.collection.mutable.ArrayBuffer

/** Seeded input generators. The program only ever sees the DataFrames these
  * return; the benchmark keeps the ground truth (planted duplicates) for
  * its checks.
  */
object Inputs {

  /** Balanced panel of `entities` x `periods` rows with the reference test
    * suite's synthetic features (FIXTURES.md section 1):
    * X1 ~ N(0.5, 1), X2 ~ N(-0.3, 1.2), X3, X4 ~ N(0, 1), X5 ~ U(-2, 2),
    * X6 ~ Bernoulli(0.35), y = 3 X1 - 2 X2 + 4.5 X6 + 2.5 X5 X3 + N(0, 0.5),
    * plus `features` = [X1..X6]. Periods run 1..`periods`. Every draw is a
    * hash of (seed, row, draw), so the data does not depend on partitioning.
    */
  def panel(spark: SparkSession, entities: Int, periods: Int, seed: Long, parts: Int): DataFrame = {
    val id = col("id")
    def uniform(k: Int): Column =
      (shiftrightunsigned(xxhash64(lit(seed), id, lit(k)), 11).cast("double") + 0.5) / math.pow(2, 53)
    def normal(k: Int): Column =
      sqrt(log(uniform(k)) * -2.0) * cos(uniform(k + 1) * (2 * math.Pi))
    val raw = spark.range(0, entities.toLong * periods, 1, parts).select(
      floor(id / periods).cast("int").as("entity"),
      (pmod(id, lit(periods.toLong)) + 1).cast("int").as("period"),
      (normal(1) + 0.5).as("X1"),
      (normal(3) * 1.2 - 0.3).as("X2"),
      normal(5).as("X3"),
      normal(7).as("X4"),
      (uniform(9) * 4.0 - 2.0).as("X5"),
      when(uniform(10) < 0.35, 1).otherwise(0).as("X6"),
      normal(11).as("noise"))
    val withY = raw.withColumn("y",
      col("X1") * 3.0 - col("X2") * 2.0 + col("X6") * 4.5 +
        col("X5") * col("X3") * 2.5 + col("noise") * 0.5).drop("noise")
    new VectorAssembler()
      .setInputCols(Array("X1", "X2", "X3", "X4", "X5", "X6"))
      .setOutputCol("features")
      .transform(withY)
  }

  /** A generated crawl: the documents plus what was planted in them. */
  final case class Crawl(docs: Seq[(Long, String)], exactCopies: Seq[(Long, Long)])

  /** Crawl-like corpus of `nDocs` documents, 40-80 tokens each, drawn from
    * a hot/cold vocabulary (500 hot words take 80% of draws, 10,000 cold
    * words the rest) so unrelated documents share little. A quarter of the
    * documents are plain; the rest are planted near-duplicate structure:
    *
    *  - exact copies of plain documents (a tenth of the corpus);
    *  - star clusters: a centre plus 3-5 members, each one or two token
    *    edits away from the centre;
    *  - revision chains of 3-6 documents (alternating with the stars),
    *    each one or two token edits away from the previous one, so only
    *    neighbours in a chain are near duplicates and the clusters need
    *    several label-propagation rounds.
    *
    * Document ids are a seeded permutation, increasing within each planted
    * group in generation order.
    */
  def crawl(nDocs: Int, seed: Long): Crawl = {
    val rng = new java.util.SplittableRandom(seed)
    def word(): String =
      if (rng.nextInt(5) < 4) "h" + rng.nextInt(500) else "c" + rng.nextInt(10000)
    def fresh(): Array[String] = Array.fill(40 + rng.nextInt(41))(word())
    def edit(tokens: Array[String]): Array[String] = {
      val out = tokens.clone()
      (0 until 1 + rng.nextInt(2)).foreach(_ => out(rng.nextInt(out.length)) = word())
      out
    }
    val texts = ArrayBuffer.empty[Array[String]]
    val copies = ArrayBuffer.empty[(Int, Int)] // (copy index, original index)
    val plainTarget = nDocs / 4
    val copyTarget = nDocs / 10
    while (texts.size < plainTarget) texts += fresh()
    while (copies.size < copyTarget) {
      val original = rng.nextInt(plainTarget)
      copies += ((texts.size, original))
      texts += texts(original).clone()
    }
    // chain lengths cycle 3..6 and star sizes 3..5, so every seed plants
    // the same structure and only the tokens and ids differ
    val groups = ArrayBuffer.empty[(Int, Int)] // [from, until) of each star or chain
    var group = 0
    while (texts.size < nDocs) {
      val room = nDocs - texts.size
      val from = texts.size
      if (group % 2 == 0) {
        var doc = fresh()
        texts += doc
        (1 until math.min(room, 3 + group / 2 % 4)).foreach { _ => doc = edit(doc); texts += doc }
      } else {
        val centre = fresh()
        texts += centre
        (0 until math.min(room - 1, 3 + group / 2 % 3)).foreach(_ => texts += edit(centre))
      }
      groups += ((from, texts.size))
      group += 1
    }
    // ids: a seeded permutation, sorted within each planted group so that
    // ids grow in generation order (a later revision gets a later id, as in
    // a crawl); the propagation depth, and so the number of CC
    // rounds, then depends on the planted structure and not on the seed
    val ids = Array.tabulate(nDocs)(_.toLong)
    (nDocs - 1 to 1 by -1).foreach { i =>
      val j = rng.nextInt(i + 1)
      val t = ids(i); ids(i) = ids(j); ids(j) = t
    }
    groups.foreach { case (from, until) =>
      val sorted = ids.slice(from, until).sorted
      sorted.indices.foreach(k => ids(from + k) = sorted(k))
    }
    Crawl(
      texts.indices.map(i => ids(i) -> texts(i).mkString(" ")),
      copies.map { case (c, o) => ids(c) -> ids(o) }.toSeq)
  }
}
