package perfbench

import scala.collection.mutable

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions.{col, explode}

import graft.core.{Csv, Tables}
import graft.features.RddPipeline
import graft.gd.{GradientDescent, LogisticLoss, Predict, SparseDoc, TwoLayerNet}
import graft.ml.TweetPipeline
import graft.operators.Dedup
import graft.text.TextOps
import Harness.Built

/** Step implementations. A step id is either a `SparkEntry` query
  * prefix (`d06`, `q17`, …) or one of the tweet-stack ids below, which
  * call the ml / features / gd modules directly and hand their frames
  * to later steps of the same pass.
  */
final class Workload(spark: SparkSession, fixture: String, distIters: Int) {
  import spark.implicits._

  private var featurized: DataFrame = _
  private val stacks = mutable.Map.empty[String, Stack]
  private val lrCfg = GradientDescent.Config(iterations = 300,
    learningRate = 0.01, optimizer = "SGD", reg = GradientDescent.L2(1.15))
  private var lrCoef: Array[Double] = _
  private val nnParams = mutable.Map.empty[String, TwoLayerNet.Params]

  /** Pass-0 outputs the checks read: classifier quality, cost curves. */
  val results = mutable.LinkedHashMap.empty[String, Any]
  private def once(key: String, v: => Any): Unit =
    if (!results.contains(key)) results(key) = v

  private final class Stack(val fz: RddPipeline.Featurized,
                            val train: RDD[SparseDoc],
                            val test: Dataset[SparseDoc]) {
    def release(): Unit = { train.unpersist(); test.unpersist(); fz.release() }
  }

  private def stack(dim: Int, dictFilter: Option[String]): Built = {
    val fz = RddPipeline.featurize(spark, Csv.TrainCsv, dim, dictFilter)
    val (tr, te) = RddPipeline.gateSplit(fz.data)
    val s = new Stack(fz, tr.rdd.persist(), te.persist())
    stacks(if (dim == 10000) "lr" else "nn") = s
    Built(None, Map("train_n" -> s.train.count(), "test_n" -> s.test.count()))
  }

  private def confusion(name: String, c: Predict.Confusion): Built = {
    val m = Map("tp" -> c.tp, "tn" -> c.tn, "fp" -> c.fp, "fn" -> c.fn,
      "accuracy" -> c.accuracy, "f1" -> c.f1)
    once(s"classifier:$name", m)
    Built(None, m)
  }

  private def nnTrain(opt: String, iterations: Int,
                      localFinishRows: Long): TwoLayerNet.Result =
    TwoLayerNet.trainRdd(stacks("nn").train,
      TwoLayerNet.Config(optimizer = opt, iterations = iterations),
      localFinishRows = localFinishRows)

  def build(id: String): Built = id match {
    case "ml.featurize" =>
      featurized = TweetPipeline.featurize(Csv.tweets(spark, Csv.TrainCsv))
        .persist()
      Built(Some(featurized))
    case s"ml.fit.$algo" =>
      val r = TweetPipeline.trainEval(algo, featurized)
      val m = Map("fit_s" -> r.trainSec, "predict_s" -> r.testSec,
        "accuracy" -> r.accuracy, "f1" -> r.f1,
        "train_n" -> r.trainN, "test_n" -> r.testN)
      once(s"classifier:$algo", m)
      Built(None, m)
    case "features.featurize.lr" => stack(10000, None)
    case "features.featurize.nn" => stack(1000, Some("1"))
    case "gd.lr_local" =>
      val r = GradientDescent.runRdd(stacks("lr").train, 10000,
        LogisticLoss, lrCfg)
      lrCoef = r.coef
      once("curve:lr_local", r.costs.take(distIters).toSeq)
      Built(None, Map("iterations" -> r.costs.length))
    case "gd.evaluate.lr" =>
      confusion("gd_lr", Predict.evaluate(stacks("lr").test, lrCoef))
    case s"gd.nn_local.$opt" =>
      val optimizer = if (opt == "adam") "Adam" else "SGD"
      val r = nnTrain(optimizer, 300, 1L << 20)
      nnParams(opt) = r.params
      once(s"curve:nn_local_$opt", r.costs.take(distIters).toSeq)
      Built(None, Map("iterations" -> r.costs.length))
    case s"gd.evaluate.nn.$opt" =>
      val bc = spark.sparkContext.broadcast(nnParams(opt))
      val preds = stacks("nn").test.map(d => (d.id, d.label.toInt,
          TwoLayerNet.predict(d, bc.value, 128, 2)))
        .toDF("id", "y", "pred")
      val c = Predict.confusion(preds)
      bc.destroy()
      confusion(s"nn_$opt", c)
    // The distributed loops the driver-side finish skips at this size:
    // one job per iteration, as at corpus scale.
    case "gd.lr_dist" =>
      val r = GradientDescent.runRdd(stacks("lr").train, 10000, LogisticLoss,
        lrCfg.copy(iterations = distIters), localFinishRows = 0)
      once("curve:lr_dist", r.costs.toSeq)
      Built(None, Map("iterations" -> r.costs.length))
    case "gd.nn_dist" =>
      val r = nnTrain("Adam", distIters, 0L)
      once("curve:nn_dist_adam", r.costs.toSeq)
      Built(None, Map("iterations" -> r.costs.length))
    case q =>
      val name = Workload.entryName(q).getOrElse(
        sys.error(s"unknown step $q"))
      Built(Some(graft.SparkEntry.queries(name)(spark, fixture)))
  }

  /** Releases the frames the tweet steps shared within a pass. */
  def endPass(): Unit = {
    if (featurized != null) featurized.unpersist(blocking = true)
    featurized = null
    stacks.values.foreach(_.release())
    stacks.clear()
  }

  /** Verified near-duplicate pairs over LSH candidate pairs for the
    * d03 operator, computed after the timed window. */
  def yields(): Map[String, Any] = {
    val docs = Tables.documents(spark, fixture)
    val tokens = TextOps.tokenize(col("text"))
    val sets = Dedup.shingleSets(docs, "doc_id", tokens, 3)
    val bands = sets.select(col("doc_id"),
        explode(Dedup.bandSignaturesInRow(col("shset"), 16, 4)).as("bs"))
      .select(col("doc_id"), col("bs.b").as("b"), col("bs.sig").as("sig"))
    Map("lsh_candidates" -> Dedup.lshCandidates(bands).count(),
      "lsh_verified" -> Dedup.minhashLshPairsDocs(docs, "doc_id", tokens,
        n = 3, numHashes = 16, rowsPerBand = 4, threshold = 0.5).count())
  }
}

object Workload {
  private val tweetPrefixes = Seq("ml.", "features.", "gd.")

  /** Tweet-stack steps hand frames to later steps of the pass. */
  def sharesPins(id: String): Boolean = tweetPrefixes.exists(id.startsWith)

  /** The `SparkEntry.queries` key a step id names, if any. */
  def entryName(id: String): Option[String] =
    if (sharesPins(id)) None
    else graft.SparkEntry.queries.keys.find(_.startsWith(id + "_"))
}
