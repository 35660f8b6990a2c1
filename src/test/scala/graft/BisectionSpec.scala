package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.diff.TableSegment
import graft.sources._

/** Behaviour both pairings of the one bisection engine share: the
  * segmentation rule and the leaf-fetch lifecycle. */
class BisectionSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTest.spark
  import spark.implicits._

  private def uuid(i: Int, up: Boolean) = {
    val u = new java.util.UUID(0x1000L + i.toLong, 0x1234L).toString
    if (up) u.toUpperCase(java.util.Locale.ROOT) else u
  }

  for (progressive <- Seq(true, false))
    test(s"local-remote uuid keys with mismatched casing: segments align and prune, " +
        s"diff exact (progressive = $progressive)") {
      // the local↔remote twin of the remote-remote casing spec: 4,000
      // uppercase UUID keys locally, lowercase behind the engine, 8 mutated
      // rows. Segmenting on raw values puts one logical row in different
      // boxes per side, so nothing prunes and progressive mode emits
      // identical rows as phantom -/+ pairs from different levels.
      val n = 4000
      val local = (1 to n).map(i => (uuid(i, true), s"v$i")).toDF("k", "v")
      (1 to n).map(i => (uuid(i, false), if (i % 500 == 0) s"v${i}X" else s"v$i"))
        .toDF("k", "v").createOrReplaceTempView("bis_uuid_remote")
      val remote = RemoteTable.introspect(new SparkViewEngine(spark), "bis_uuid_remote",
        Seq("k"), Seq("v"))
      val (out, stats) = PushdownDiffer.diffWithStats(TableSegment(local, Seq("k"), Seq("v")),
        remote, bisectionFactor = 4, bisectionThreshold = 256,
        control = new PushdownControl(progressive = progressive))
      val rows = out.collect().map(_.mkString("|")).toSet
      assert(rows.size == 16, s"$stats\n${rows.take(8)}")
      assert(stats.segmentsPruned > 0, s"uuid-aligned segmentation must prune: $stats")
    }

  /** A Derby table `t (k BIGINT, v VARCHAR)` holding (i, "v<i>") for i in
    * 1..n, reachable over JDBC. */
  private def derby(n: Int): JdbcEngine = {
    val url = "jdbc:derby:memory:bis_cache_" + java.util.UUID.randomUUID().toString.take(8)
    java.sql.DriverManager.getConnection(s"$url;create=true").close()
    val eng = new JdbcEngine(url, new java.util.Properties(), DerbyProfile)
    eng.update("CREATE TABLE t (\"k\" BIGINT, \"v\" VARCHAR(32))")
    RemoteRepair.insertStatements(DerbyProfile, "t", Seq("k", "v"),
      (1 to n).iterator.map(i => org.apache.spark.sql.Row(i.toLong, s"v$i")), 512)
      .foreach(eng.update)
    eng
  }
  private def cacheIsEmpty: Boolean =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager.isEmpty

  for (progressive <- Seq(true, false))
    test(s"no fetched frame outlives a diff against a JDBC engine (progressive = $progressive)") {
      val n = 4096
      val eng = derby(n)
      try {
        // side b differs in every 256th row, so leaves are fetched over JDBC
        val other = (1 to n).map(i => (i.toLong, if (i % 256 == 0) s"v${i}X" else s"v$i"))
          .toDF("k", "v")
        other.createOrReplaceTempView("bis_cache_view")
        val control = new PushdownControl(progressive = progressive)
        val derbySide = RemoteTable.introspect(eng, "t", Seq("k"), Seq("v"))

        spark.catalog.clearCache()
        val (local, localStats) = PushdownDiffer.diffWithStats(
          TableSegment(other, Seq("k"), Seq("v")), derbySide,
          bisectionFactor = 4, bisectionThreshold = 64, control = control)
        assert(local.collect().length == 32 && localStats.rowsFetched > 0, s"$localStats")
        assert(cacheIsEmpty, "the local↔Derby leaf fetch left a frame in the cache manager")

        val (remote, remoteStats) = RemoteRemoteDiffer.diff(spark, derbySide,
          RemoteTable.introspect(new SparkViewEngine(spark), "bis_cache_view", Seq("k"), Seq("v")),
          bisectionFactor = 4, bisectionThreshold = 64, control = control)
        assert(remote.collect().length == 32 && remoteStats.rowsFetched > 0, s"$remoteStats")
        assert(cacheIsEmpty, "the Derby↔view leaf fetch left a frame in the cache manager")
      } finally eng.close()
    }
}
