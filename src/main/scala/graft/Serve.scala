package graft

import graft.server.{ClickHouseServer, HttpApiServer, MySqlServer}

/** Network front-door main — boots one SparkSession and serves the engine
  * over both wire protocols plus the HTTP admin/metrics API, the
  * reference's deployment shape (fusequery/query/src/bin/fuse-query.rs
  * starts MySQL + ClickHouse handlers, the HTTP router, and the metrics
  * exporter on one session manager):
  *
  * {{{
  * sbt "runMain graft.Serve [mysqlPort] [clickhousePort] [sfDir] [httpPort]"
  * # defaults: 3307, 9001, no tables pre-mounted, http 8080
  * mysql -h 127.0.0.1 -P 3307 -e "SELECT count(*) FROM numbers(1000)"
  * curl -s localhost:8080/v1/hello; curl -s localhost:8080/metrics
  * }}}
  *
  * When `sfDir` is given, the TPC-H-ish parquet tables mount as views so
  * wire clients can query them immediately. Runs until killed. */
object Serve {
  def main(args: Array[String]): Unit = {
    val mysqlPort = args.lift(0).map(_.toInt).getOrElse(3307)
    val chPort = args.lift(1).map(_.toInt).getOrElse(9001)
    val spark = SparkBoot.builder("graft-serve").getOrCreate()
    args.lift(2).foreach(dir => graft.tables.Tables.registerAll(spark, dir))
    val httpPort = args.lift(3).map(_.toInt).getOrElse(8080)
    val my = new MySqlServer(spark, mysqlPort)
    val ch = new ClickHouseServer(spark, chPort)
    val http = new HttpApiServer(spark, httpPort)
    println(s"[serve] mysql on ${my.start()}, clickhouse on ${ch.start()}, " +
      s"http on ${http.start()}")
    Thread.currentThread().join() // serve until killed
  }
}
