package graft.serve

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The server's own upload parse (`ProfileServer.parseUpload`, which is
  * `private[serve]`, hence this package), for the benchmark's direct calls:
  * (good rows, quarantined count, release).
  */
object UploadParse {
  def apply(spark: SparkSession, path: String, format: String): Option[(DataFrame, Long, () => Unit)] =
    ProfileServer.parseUpload(spark, path, format)
}
