package panelbench

import org.apache.spark.ml.regression.LinearRegression
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.cv.{CrossVal, PanelSplit}
import graft.dedup.Dedup
import graft.metrics.Metrics
import graft.pipeline.SequentialCVPipeline
import graft.search.GridSearch

/** Opens spans around calls into the program; [[NoSpans]] when untraced. */
trait Spans { def span[T](name: String)(body: => T): T }

object NoSpans extends Spans { def span[T](name: String)(body: => T): T = body }

final case class Check(name: String, ok: Boolean, detail: String)

/** What one pass produced, checked and released after the timed region. */
trait Outcome {
  /** Sub-operations inside the pass (search candidates) and how many failed. */
  def subAttempts: Int = 0
  def subFailures: Int = 0
  /** Independent output checks, plus per-layer counts read off the outputs. */
  def check(): (Seq[Check], Map[String, Double])
  def release(): Unit
}

/** One benchmark workload: seeded inputs, a timed pass, a check. */
abstract class Workload(val spark: SparkSession, val cores: Int) {
  /** Builds the seeded inputs, caches and materializes them. */
  def build(seed: Long): Unit
  /** Input rows one pass reads (panel rows or documents). */
  def inputRows: Long
  /** The user-facing throughput: its name and units of work per pass. */
  def throughput: (String, Double)
  def pass(spans: Spans): Outcome
  /** Extra per-layer counts measured once in the traced run. */
  def tracedCounts(passCounts: Map[String, Double]): Map[String, Double] = Map.empty

  protected def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  protected def relClose(a: Double, b: Double, tol: Double = 1e-6): Boolean =
    math.abs(a - b) <= tol * math.max(1.0, math.max(math.abs(a), math.abs(b)))
}

object Workloads {
  val Names: Seq[String] = Seq("panel_cv", "dedup_crawl")

  def apply(name: String, spark: SparkSession, cores: Int): Workload = name match {
    case "panel_cv"    => new PanelCv(spark, cores)
    case "dedup_crawl" => new DedupCrawl(spark, cores)
    case other => throw new IllegalArgumentException(
      s"unknown workload '$other'; expected one of ${Names.mkString(", ")}")
  }

  /** Fits `y ~ features` on the panel's rows with period < `testStart` and
    * returns (y, prediction) for the `testPeriods` periods from `testStart`
    * on, straight through spark.ml: the reference the checks compare against.
    */
  def directFold(df: DataFrame, testStart: Int, testPeriods: Int,
      regParam: Double = 0.0, elasticNet: Double = 0.0): Array[(Double, Double)] = {
    val model = new LinearRegression().setFeaturesCol("features").setLabelCol("y")
      .setRegParam(regParam).setElasticNetParam(elasticNet)
      .fit(df.filter(col("period") < testStart))
    model.transform(df.filter(col("period") >= testStart && col("period") < testStart + testPeriods))
      .select("y", "prediction").collect().map(r => (r.getDouble(0), r.getDouble(1)))
  }

  def mse(yp: Array[(Double, Double)]): Double =
    yp.map { case (y, p) => (y - p) * (y - p) }.sum / yp.length

  def r2(yp: Array[(Double, Double)]): Double = {
    val mean = yp.map(_._1).sum / yp.length
    1.0 - yp.map { case (y, p) => (y - p) * (y - p) }.sum / yp.map { case (y, _) => (y - mean) * (y - mean) }.sum
  }
}

/** The panel side on one seeded panel: a grid search over a one-step CV
  * pipeline (many small fits, so driver-side job submission and per-fold
  * overhead dominate), then the out-of-fold path of the `cv` layer (drop
  * degenerate folds, snapshots, per-fold fit and predict) scored per fold.
  */
final class PanelCv(spark: SparkSession, cores: Int) extends Workload(spark, cores) {
  val Entities = 1000
  val Periods = 24
  // one fold plan for both: expanding windows testing TestSize periods each
  val Splits = 2
  val TestSize = 2
  val Grid: Map[String, Seq[Any]] = Map(
    "lr__regParam" -> Seq(0.01, 0.1),
    "lr__elasticNetParam" -> Seq(0.5))
  val Scoring = Seq("neg_mean_squared_error", "r2")
  val Candidates: Int = Grid.values.map(_.size).product
  /** One fit per fold per candidate, plus the refit of the winner. */
  val SearchFits: Int = (Candidates + 1) * Splits
  val Scorers = Seq("mean_squared_error", "mean_absolute_error", "r2")

  private var df: DataFrame = _

  def build(seed: Long): Unit = {
    if (df != null) df.unpersist(blocking = true)
    df = Inputs.panel(spark, Entities, Periods, seed, cores).persist()
    df.count()
  }

  def inputRows: Long = Entities.toLong * Periods
  def throughput: (String, Double) = "fits_per_s" -> (SearchFits + Splits).toDouble

  /** First period of fold `i`'s test window (periods are 1-based). */
  private def testStart(i: Int): Int = Periods - (Splits - i) * TestSize + 1

  def pass(spans: Spans): Outcome = {
    val cv = spans.span("cv.plan")(PanelSplit(df, "period", nSplits = Splits, testSize = TestSize))
    val lr = new LinearRegression().setFeaturesCol("features").setLabelCol("y")
    val search = new GridSearch(
      new SequentialCVPipeline(Seq("lr" -> lr), Seq(Some(cv))), Grid, Scoring, "y")
    spans.span("search.fit")(search.fit(df))
    val rows = search.cvResults(spark).collect()
    val results = search.results

    val kept = spans.span("cv.drop_splits")(cv.dropSplits(df, "y"))
    spans.span("cv.snapshots")(noop(kept.genSnapshots(df)))
    val models = spans.span("cv.fit")(CrossVal.crossValFit(lr, df, kept, "y"))
    val preds = spans.span("cv.predict") {
      val p = CrossVal.crossValPredict(models, df, kept).persist()
      p.count()
      p
    }
    val scores = spans.span("metrics.score") {
      Scorers.map(s => s -> Metrics.perFoldScores(preds, s, "y").collect()
        .map(r => r.getInt(0) -> r.getDouble(1)).toMap).toMap
    }

    new Outcome {
      override def subAttempts: Int = results.size
      override def subFailures: Int = results.count(_.failed)

      def check(): (Seq[Check], Map[String, Double]) = {
        // search: every candidate scored, finite, and the winner's fold 0 reproducible
        val scoreCols = rows.head.schema.fieldNames.filter(_.contains("_test_"))
          .filterNot(_.startsWith("rank_"))
        val nonFinite = rows.flatMap(r => scoreCols.map(c => r.getAs[Double](c)))
          .count(v => v.isNaN || v.isInfinite)
        val best = rows.find(_.getAs[Int]("rank_test_neg_mean_squared_error") == 1).get
        val params = best.getAs[String]("params").split(";").map { kv =>
          val Array(k, v) = kv.split("="); k -> v.toDouble
        }.toMap
        val reported = best.getAs[Double]("split0_test_neg_mean_squared_error")
        val direct = -Workloads.mse(Workloads.directFold(df, testStart(0), TestSize,
          params("lr__regParam"), params("lr__elasticNetParam")))

        // out-of-fold: row counts from period arithmetic, fold 0 r2 reproducible
        val folds = 0 until Splits
        val predCounts = preds.groupBy("fold").count().collect()
          .map(r => r.getInt(0) -> r.getLong(1)).toMap
        val snapCounts = kept.genSnapshots(df).groupBy("split").count().collect()
          .map(r => r.getInt(0) -> r.getLong(1)).toMap
        // fold i holds every period before its test window plus the window
        val wantPred = folds.map(_ -> Entities.toLong * TestSize).toMap
        val wantSnap = folds.map(i => i -> Entities.toLong * (testStart(i) - 1 + TestSize)).toMap
        val directR2 = Workloads.r2(Workloads.directFold(df, testStart(0), TestSize))
        val oofScores = scores.values.flatMap(_.values)

        val checks = Seq(
          Check("candidates", rows.length == Candidates && results.forall(!_.failed),
            s"${rows.length} rows, ${results.count(_.failed)} failed"),
          Check("finite_scores", nonFinite == 0, s"$nonFinite non-finite"),
          Check("winner_split0", relClose(reported, direct), s"reported $reported, direct $direct"),
          Check("kept_folds", kept.nSplits == Splits, s"${kept.nSplits} of $Splits kept"),
          Check("prediction_rows", predCounts == wantPred, s"per fold $predCounts"),
          Check("snapshot_rows", snapCounts == wantSnap, s"per split $snapCounts"),
          Check("oof_scores", scores.values.forall(_.keySet == folds.toSet) &&
            oofScores.forall(v => !v.isNaN && !v.isInfinite), s"${oofScores.size} scores"),
          Check("fold0_r2", relClose(scores("r2")(0), directR2),
            s"reported ${scores("r2")(0)}, direct $directR2"))
        (checks, Map(
          "pipeline.fit_s" -> results.map(_.fitTimeSec).sum,
          "metrics.score_s" -> results.map(_.scoreTimeSec).sum))
      }

      def release(): Unit = preds.unpersist(blocking = true)
    }
  }

  override def tracedCounts(passCounts: Map[String, Double]): Map[String, Double] =
    Map("search.jobs_per_fold_fit" -> passCounts.getOrElse("search.fit.jobs", 0.0) / SearchFits)
}

/** Near-duplicate pairs and clusters over a crawl with planted exact copies,
  * stars and revision chains: the pair head dominates and the chains make
  * connected components run real rounds.
  */
final class DedupCrawl(spark: SparkSession, cores: Int) extends Workload(spark, cores) {
  val Docs = 1500
  val Threshold = 0.9

  private var crawl: Inputs.Crawl = _
  private var docs: DataFrame = _

  def build(seed: Long): Unit = {
    if (docs != null) docs.unpersist(blocking = true)
    crawl = Inputs.crawl(Docs, seed)
    import spark.implicits._
    docs = crawl.docs.toDF("doc_id", "text").persist()
    docs.count()
  }

  def inputRows: Long = Docs
  def throughput: (String, Double) = "docs_per_s" -> Docs.toDouble

  def pass(spans: Spans): Outcome = {
    val (pairs, nPairs) = spans.span("dedup.pairs") {
      val p = Dedup.simhashJaccardPairs(docs, "doc_id", "text", n = 1, threshold = Threshold).persist()
      (p, p.count())
    }
    val labels = spans.span("dedup.cc") {
      val l = Dedup.connectedComponents(docs.select(col("doc_id").as("id")), pairs)
      noop(l)
      l
    }
    new Outcome {
      def check(): (Seq[Check], Map[String, Double]) = {
        val label = labels.collect().map(r => r.getLong(0) -> r.getLong(1))
        val byId = label.toMap
        val ids = crawl.docs.map(_._1)
        val members = label.groupBy(_._2)
        val emitted = pairs.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
          .sortBy(p => (p._1, p._2))
        val text = crawl.docs.toMap
        val sample = emitted.indices.by(math.max(1, (emitted.length + 199) / 200)).map(emitted)
        val badSample = sample.filterNot { case (a, b, sim) =>
          val (ta, tb) = (text(a).split(" ").toSet, text(b).split(" ").toSet)
          val j = (ta & tb).size.toDouble / (ta | tb).size
          j >= Threshold && math.abs(j - sim) <= 1e-6
        }
        val checks = Seq(
          Check("each_doc_once", label.length == ids.size && byId.keySet == ids.toSet,
            s"${label.length} labels for ${ids.size} docs"),
          Check("min_member_label", members.forall { case (c, ms) => ms.map(_._1).min == c },
            s"${members.size} clusters"),
          Check("pairs_in_one_cluster", emitted.forall { case (a, b, _) => byId(a) == byId(b) },
            s"$nPairs pairs"),
          Check("exact_copies", crawl.exactCopies.forall { case (c, o) => byId(c) == byId(o) },
            s"${crawl.exactCopies.size} planted copies"),
          Check("sampled_pairs_jaccard", emitted.nonEmpty && badSample.isEmpty,
            s"${badSample.size} of ${sample.size} sampled pairs below $Threshold or off"))
        (checks, Map("dedup.pairs.out" -> nPairs.toDouble, "dedup.cc.out" -> members.size.toDouble))
      }
      def release(): Unit = pairs.unpersist(blocking = true)
    }
  }

  /** Candidate pairs the SimHash bands emit before Jaccard verification,
    * counted separately so the timed pairs span is unchanged.
    */
  override def tracedCounts(passCounts: Map[String, Double]): Map[String, Double] = {
    val candidates = Dedup.simhashNearDupPairs(docs, "doc_id", "text", 48, 12, 11).count().toDouble
    Map("dedup.candidates.out" -> candidates,
      "dedup.verify_ratio" -> passCounts.getOrElse("dedup.pairs.out", 0.0) / candidates)
  }
}
