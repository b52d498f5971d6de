package org.apache.spark.ml.graftshim

import org.apache.spark.ml.classification.LogisticRegressionModel
import org.apache.spark.ml.linalg.Vectors

/** Builds an MLlib [[LogisticRegressionModel]] from published
  * coefficients, the reference implementation MlSpec checks
  * `FraudModel.score` against. That constructor is `private[spark]`,
  * so — like sql.graftshim.ColumnBridge — this one-object shim lives
  * in the org.apache.spark namespace to re-export it. Everything else
  * about the model (transform, probability pipeline) is the public API.
  */
object ModelBridge {
  def logistic(uid: String, coefficients: Array[Double],
               intercept: Double): LogisticRegressionModel =
    new LogisticRegressionModel(uid, Vectors.dense(coefficients), intercept)
}
