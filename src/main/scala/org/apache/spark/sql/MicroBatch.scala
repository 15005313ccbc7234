package org.apache.spark.sql

/** Re-homes a streaming micro-batch into the session that started
  * the stream. `Dataset.ofRows` is package-private, hence this package.
  *
  * Each streaming query run plans its micro-batches in a clone of the
  * caller's session, and every session gets its own task class loader.
  * Spark's codegen cache is keyed on (class loader, generated source), so
  * a body planned in the clone recompiles every generated class on every
  * run. The re-homed frame is the same plan over the same already-built
  * micro-batch RDD; only the session that plans and runs what the body
  * derives from it changes, so its classes are compiled once per process. */
object MicroBatch {
  def rehome(home: SparkSession, batch: DataFrame): DataFrame =
    classic.Dataset.ofRows(home.asInstanceOf[classic.SparkSession],
      batch.asInstanceOf[classic.Dataset[Row]].queryExecution.logical)
}
