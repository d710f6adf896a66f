package graft.ml

import org.apache.spark.SparkContext
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.ml.PipelineModel
import org.apache.spark.ml.classification.ProbabilisticClassificationModel
import org.apache.spark.ml.feature.VectorAssembler
import org.apache.spark.ml.linalg.{Vector, Vectors}
import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, FloatType, NumericType, StructType}

/** Streaming scorer for a [VectorAssembler, probabilistic classifier]
  * pipeline, built once per (model, SparkContext) by [[ForestScorer.of]].
  *
  * `model.transform` in every micro-batch re-analyses the assembler and
  * classifier plan and ships the whole forest inside every task's
  * closure. Here the stages are checked once, the classifier is
  * broadcast once, and a batch is scored by one predicate and one
  * column: tasks carry the broadcast handle, not the trees.
  *
  * [[prediction]] is `classifier.predict` on the dense vector of the
  * assembler's input columns cast to double, i.e.
  * `raw2prediction(predictRaw(v))`, the value `transform` writes to its
  * `prediction` column. [[keep]] is the assembler's
  * `handleInvalid = "skip"`: a row with a null or NaN input is dropped.
  */
final class ForestScorer private (inputCols: Seq[String],
    classifier: Broadcast[ProbabilisticClassificationModel[Vector, _]],
    private val sc: SparkContext) {

  /** The rows the assembler keeps; refuses a schema without every input
    * column as a number.
    */
  def keep(schema: StructType): Column = {
    val fields = inputCols.map { c =>
      val f = schema.find(_.name == c).getOrElse(throw new IllegalArgumentException(
        s"scorer input column `$c` is missing from [${schema.fieldNames.mkString(", ")}]"))
      if (!f.dataType.isInstanceOf[NumericType])
        throw new IllegalArgumentException(s"scorer input column `$c` is ${f.dataType.simpleString}, not numeric")
      f
    }
    // only the checks a column's type and nullability leave open
    fields.flatMap { f =>
      val c = col(f.name)
      Option.when(f.nullable)(c.isNotNull) ++
        Option.when(f.dataType == DoubleType || f.dataType == FloatType)(!isnan(c))
    }.reduceOption(_ && _).getOrElse(lit(true))
  }

  /** The classifier's prediction for a kept row. */
  val prediction: Column = {
    val bc = classifier // the closure captures the handle, not this scorer
    udf((v: Array[Double]) => bc.value.predict(Vectors.dense(v)))
      .apply(array(inputCols.map(c => col(c).cast(DoubleType)): _*))
  }
}

object ForestScorer {
  // weak keys: a scorer lives no longer than its model
  private val built = new java.util.WeakHashMap[PipelineModel, ForestScorer]()

  /** The scorer of `model` on `spark`'s context: built and broadcast on
    * first use, then reused. Refuses a pipeline that is not a
    * VectorAssembler (handleInvalid "skip") feeding a probabilistic
    * classifier over Vector, naming its stages.
    */
  def of(model: PipelineModel, spark: SparkSession): ForestScorer = built.synchronized {
    val sc = spark.sparkContext
    Option(built.get(model)).filter(_.sc eq sc).getOrElse {
      val s = build(model, sc)
      built.put(model, s)
      s
    }
  }

  private def build(model: PipelineModel, sc: SparkContext): ForestScorer = {
    def refuse(why: String): Nothing = throw new IllegalArgumentException(
      s"cannot score pipeline ${model.uid} with stages " +
        s"${model.stages.map(_.getClass.getSimpleName).mkString("[", ", ", "]")}: $why")
    model.stages match {
      case Array(va: VectorAssembler, clf: ProbabilisticClassificationModel[_, _]) =>
        if (!overVector(clf.getClass)) refuse(s"${clf.getClass.getSimpleName} does not predict on a Vector")
        if (va.getHandleInvalid != "skip")
          refuse(s"assembler handleInvalid is ${va.getHandleInvalid}, not skip")
        if (va.getOutputCol != clf.getFeaturesCol)
          refuse(s"assembler writes `${va.getOutputCol}`, classifier reads `${clf.getFeaturesCol}`")
        new ForestScorer(va.getInputCols.toSeq,
          sc.broadcast(clf.asInstanceOf[ProbabilisticClassificationModel[Vector, _]]), sc)
      case _ =>
        refuse("expected [VectorAssembler, ProbabilisticClassificationModel over Vector]")
    }
  }

  /** Whether `c` extends ProbabilisticClassificationModel[Vector, _]. */
  private def overVector(c: Class[_]): Boolean =
    c != null && (c.getGenericSuperclass match {
      case p: java.lang.reflect.ParameterizedType
          if p.getRawType == classOf[ProbabilisticClassificationModel[_, _]] =>
        p.getActualTypeArguments.headOption.contains(classOf[Vector])
      case _ => overVector(c.getSuperclass)
    })
}
