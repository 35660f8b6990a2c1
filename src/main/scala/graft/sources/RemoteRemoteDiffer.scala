package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Cross-engine hashdiff where NEITHER side is Spark-readable — the
  * reference's primary scenario (postgres ↔ mysql,
  * data_diff/hashdiff_tables.py:88-264): the [[Bisection]] engine with two
  * [[RemoteSide]]s, Spark only coordinating and comparing downloaded leaf
  * rows. Both sides MUST normalize at the same negotiated precision
  * (`Graft.diffRemotes` introspects and aligns; this low-level entry
  * requires it) and their checksum renderings must be bit-compatible —
  * which is exactly the `SourceProfile` contract. */
object RemoteRemoteDiffer {

  def diff(spark: SparkSession, a: RemoteTable, b: RemoteTable,
      bisectionFactor: Int = PushdownDiffer.DefaultBisectionFactor,
      bisectionThreshold: Int = PushdownDiffer.DefaultBisectionThreshold,
      control: PushdownControl = new PushdownControl()): (DataFrame, PushdownStats) =
    Bisection.diff(RemoteSide(spark, a), RemoteSide(spark, b),
      bisectionFactor, bisectionThreshold, control)
}
