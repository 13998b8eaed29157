package graft

import graft.operators.Classifier
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class ClassifierSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("featurizer: hashed indices in range and distinct, label counts real occurrences") {
    import spark.implicits._
    val docs = Seq(
      (1L, Option("spark join spark")),          // two occurrences → positive
      (2L, Option("spark only once here")),      // one occurrence → negative
      (3L, Option("no keyword at all")),
      (4L, Option.empty[String]),                // null text must survive
      (5L, Option(""))).toDF("doc_id", "text")
    val rows = Classifier.featurized(docs).orderBy(col("doc_id")).collect()
    assert(rows.length == 5)
    val byId = rows.map(r => r.getLong(0) -> r).toMap
    assert(byId(1L).getBoolean(1) && !byId(2L).getBoolean(1) && !byId(3L).getBoolean(1))
    assert(!byId(4L).getBoolean(1) && !byId(5L).getBoolean(1))
    // indices hashed into [0, Dim), pre-deduplicated
    rows.foreach { r =>
      val idx = r.getSeq[Int](3)
      assert(idx.forall(i => i >= 0 && i < Classifier.Dim), s"index out of range: $idx")
      assert(idx.distinct.size == idx.size, s"duplicate features: $idx")
    }
    // doc 1 has MORE features than its unigram count: bigrams present
    assert(byId(1L).getSeq[Int](3).size > 2, "bigram features missing")
    // split is a pure doc_id function: 5 ∈ holdout (id % 5 == 0)
    assert(byId(5L).getString(2) == "holdout" && byId(1L).getString(2) == "train")
  }

  test("trained model clears both accuracy floors; an untrained model fails them") {
    val feats = Classifier.featurized(Tables.documents(spark, TestSpark.sf)).persist()
    try {
      val model = Classifier.fit(feats)
      val scored = Classifier.score(feats, model).persist()
      try {
        def acc(split: String): Double = {
          val r = scored.filter(col("split") === split)
            .agg(avg(col("pred").cast("double") * col("label").cast("double") +
              (lit(1) - col("pred").cast("double")) * (lit(1) - col("label").cast("double"))))
            .head().getDouble(0)
          r
        }
        val (tr, ho) = (acc("train"), acc("holdout"))
        info(f"train acc $tr%.4f, holdout acc $ho%.4f")
        assert(tr >= Classifier.TrainFloor, s"train acc $tr under floor")
        assert(ho >= Classifier.HoldoutFloor, s"holdout acc $ho under floor")
        // probabilities are probabilities
        assert(scored.filter(col("prob") < 0 || col("prob") > 1).isEmpty)
        // the check twin agrees with itself end-to-end
        val v = Classifier.classifyCheck(spark, TestSpark.sf).head()
        assert(v.getAs[Long]("n_prob_oob") == 0L)
        assert(v.getAs[Boolean]("train_acc_ok") && v.getAs[Boolean]("holdout_acc_ok"))
        assert(v.getAs[Long]("n_train") + v.getAs[Long]("n_holdout") == v.getAs[Long]("n_docs"))
        // FALSIFIABILITY: zero weights score 0.5 everywhere → pred all
        // positive → accuracy collapses to the base rate, under both
        // floors (the floors police the TRAINER, not the label's prior)
        val zero = Classifier.LrModel(new Array[Double](Classifier.Dim + 1), Classifier.Dim, 0L)
        val zeroScored = Classifier.score(feats, zero).persist()
        try {
          val zeroHo = zeroScored.filter(col("split") === "holdout")
            .agg(avg(when(col("pred") === col("label"), 1.0).otherwise(0.0)))
            .head().getDouble(0)
          assert(zeroHo < Classifier.HoldoutFloor,
            s"zero-weight model clears the floor ($zeroHo) — the floor is vacuous")
        } finally zeroScored.unpersist(blocking = false)
      } finally scored.unpersist(blocking = false)
    } finally feats.unpersist(blocking = false)
  }

  test("scoring is a broadcast-model map: no exchange in the plan") {
    val feats = Classifier.featurized(Tables.documents(spark, TestSpark.sf))
    val zero = Classifier.LrModel(new Array[Double](Classifier.Dim + 1), Classifier.Dim, 0L)
    val plan = Classifier.score(feats, zero).queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"scoring shuffles:\n$plan")
  }

  test("model store round-trips; the sparse-weight sentinel rejects a drifted writer") {
    // the store is sparse (absent means zero) and an idx=-1 sentinel
    // records the weight-row count — a writer that silently drops rows
    // (L1 pruning, quantization) must fail the load, not zero-fill
    // real weights away (VERDICT r11 #4)
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_clf_model")
    try {
      val w = new Array[Double](Classifier.Dim + 1)
      w(3) = 0.25; w(17) = -1.5; w(Classifier.Dim) = 0.125 // bias
      val m = Classifier.LrModel(w, Classifier.Dim, 42L)
      Classifier.storeModel(spark, m, s"$dir/model")
      val back = Classifier.loadModel(spark, s"$dir/model")
      assert(back.w.toSeq == w.toSeq, "model round-trip drifted")
      // a writer that DROPS a weight row without updating the sentinel
      val rows = spark.read.parquet(s"$dir/model")
      rows.filter(col("idx") =!= 17).write.parquet(s"$dir/dropped")
      val e1 = intercept[IllegalArgumentException] {
        Classifier.loadModel(spark, s"$dir/dropped")
      }
      assert(e1.getMessage.contains("sparse-weight contract"))
      // a pre-sentinel legacy store (no meta row at all) is equally out
      rows.filter(col("idx") >= 0).write.parquet(s"$dir/legacy")
      val e2 = intercept[IllegalArgumentException] {
        Classifier.loadModel(spark, s"$dir/legacy")
      }
      assert(e2.getMessage.contains("sparse-weight contract"))
    } finally {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(dir).sorted(java.util.Comparator.reverseOrder())
        .iterator().asScala.foreach(p => java.nio.file.Files.deleteIfExists(p))
    }
  }
}
