package org.apache.spark.sql

import org.apache.spark.sql.types.StructType

/** Lives in Spark's package for the package-private
  * `internalCreateDataFrame`: a v1 streaming `Source` must hand back a
  * frame marked streaming. */
object StreamingFrames {

  /** `df`'s rows under `schema` (same arity and types) as ONE streaming
    * leaf. `df` is planned here (adaptive execution also runs its
    * broadcast and shuffle stages here); its final stage runs with the
    * batch. A single leaf keeps the engine's per-batch input-row count
    * exact. */
  def of(df: DataFrame, schema: StructType): DataFrame =
    classic.ClassicConversions.castToImpl(df.sparkSession)
      .internalCreateDataFrame(df.queryExecution.toRdd, schema,
        isStreaming = true)
}
