// Test-only bridge into the private[sql] session constructor (the same
// qualified-private-subpackage idiom as ColumnBridge): a test needs a
// session that was built without graft's extension.
package org.apache.spark.sql.graft

import org.apache.spark.sql.SparkSession

object SessionBridge {

  /** A session on `spark`'s context built with no extensions, like one
    * a caller builds itself and hands to `SparkEntry`. It is neither
    * the active nor the default session. */
  def plain(spark: SparkSession): SparkSession =
    new org.apache.spark.sql.classic.SparkSession(spark.sparkContext)
}
