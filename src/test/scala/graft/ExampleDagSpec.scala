package graft

import graft.core.{FileRef, TableRef}

/** The reference's flagship example DAG, reproduced natively end-to-end
  * (SURVEY §7.3 minimum slice): load the imdb golden CSV → templated
  * transform (CTAS) → read the result table — asserting the exact
  * top-5-animations rows the reference pipeline produces
  * (example_dags/calculate_popular_movies.py:11-37 on tests/data/imdb_v2.csv).
  */
class ExampleDagSpec extends GraftSuite {

  private val imdb = "/root/reference/python-sdk/tests/data/imdb_v2.csv"

  test("calculate_popular_movies DAG: loadFile → transform → result parity") {
    assume(new java.io.File(imdb).exists())
    // load_file(File(imdb_v2.csv), output_table=Table(...))
    val movies = TableRef("imdb_movies")
    g.loadFile(FileRef(imdb), Some(movies))
    // @aql.transform top_five_animations
    val out = g.transform(
      """SELECT title, rating
        |FROM {{input_table}}
        |WHERE genre1='Animation'
        |ORDER BY Rating desc
        |LIMIT 5""".stripMargin,
      Map("input_table" -> movies),
      output = Some(TableRef("top_animation")))
    val rows = spark.table(out.qualifiedName)
      .collect().map(r => (r.getString(0), r.getDouble(1))).toSeq
    assert(rows == Seq(
      ("Toy Story 3 (2010)", 8.3),
      ("Inside Out (2015)", 8.2),
      ("How to Train Your Dragon (2010)", 8.1),
      ("Zootopia (2016)", 8.1),
      ("How to Train Your Dragon 2 (2014)", 7.9)))
    g.dropTable(movies)
    g.dropTable(out)
  }

  test("same DAG loading the CSV over http:// (calculate_popular_movies.py:29 parity)") {
    assume(new java.io.File(imdb).exists())
    // Serve the golden CSV from a loopback socket to stay hermetic.
    val server = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/", (ex: com.sun.net.httpserver.HttpExchange) => {
      val bytes = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(imdb))
      ex.sendResponseHeaders(200, bytes.length.toLong)
      ex.getResponseBody.write(bytes)
      ex.close()
    })
    server.start()
    try {
      val movies = TableRef("imdb_movies_http")
      g.loadFile(FileRef(s"http://127.0.0.1:${server.getAddress.getPort}/imdb_v2.csv"),
        Some(movies))
      val top = g.transform(
        "SELECT title, rating FROM {{t}} WHERE genre1='Animation' ORDER BY rating DESC LIMIT 1",
        Map("t" -> movies))
      val r = spark.table(top.qualifiedName).collect()(0)
      assert(r.getString(0) == "Toy Story 3 (2010)" && r.getDouble(1) == 8.3)
      g.dropTable(movies)
      g.cleanup()
    } finally server.stop(0)
  }

  test("calculate_top_2_movies_using_dataframe DAG: dataframe op chain parity") {
    assume(new java.io.File(imdb).exists())
    // load_file → @aql.dataframe top-5-by-rating → chained @task head(2)
    // (example_dags/calculate_top_2_movies_using_dataframe.py) — natively:
    // dataframeOp with a lazy DataFrame, no pandas/XCom materialization
    import org.apache.spark.sql.functions._
    val movies = TableRef("imdb_movies_top2")
    g.loadFile(FileRef(imdb), Some(movies))
    val top5 = g.dataframeOp(movies, df =>
      df.orderBy(col("rating").desc, col("title")).select("title", "rating", "genre1").limit(5))
    val titles5 = top5.collect().map(_.getString(0)).toSet
    assert(titles5 == Set("Inception (2010)", "Interstellar (2014)", "Whiplash (2014)",
      "Django Unchained (2012)", "The Dark Knight Rises (2012)"))
    val top2 = top5.orderBy(col("rating").desc, col("title")).limit(2)
      .collect().map(r => (r.getString(0), r.getDouble(1))).toSeq
    assert(top2 == Seq(("Inception (2010)", 8.8), ("Interstellar (2014)", 8.6)))
    g.dropTable(movies)
  }

  test("example_sqlite_load_transform DAG: transform + drop_table + cleanup parity") {
    assume(new java.io.File(imdb).exists())
    // load_file → @aql.transform CTAS → drop_table(source) → aql.cleanup()
    // (example_dags/example_sqlite_load_transform.py)
    val movies = TableRef("imdb_movies_" + System.nanoTime())
    g.loadFile(FileRef(imdb), Some(movies))
    val out = g.transform(
      "SELECT title, rating FROM {{input_table}} WHERE genre1='Animation' ORDER BY rating DESC LIMIT 5",
      Map("input_table" -> movies),
      output = Some(TableRef("top_animation_slt")))
    assert(spark.table(out.qualifiedName).count() == 5)
    g.dropTable(movies)
    assert(!g.tableExists(movies))
    g.cleanup()
    g.dropTable(out)
  }

  test("gdrive:// and sftp:// route to their command transports; failures are loud") {
    // both are supported locations (OpenSSH-client / rclone delegation): a
    // failing transport surfaces as a loud IOException with exit code +
    // output, never a silent miss. Full happy paths are op_load_sftp /
    // op_load_gdrive / IoSpec.
    spark.conf.set("spark.graft.fetchCmd.sftp", "false")
    try {
      val e = intercept[java.io.IOException] {
        g.loadFile(FileRef("sftp://host/path/data.csv"))
      }
      assert(e.getMessage.contains("sftp fetch failed"), e.getMessage)
    } finally spark.conf.unset("spark.graft.fetchCmd.sftp")
    spark.conf.set("spark.graft.fetchCmd.gdrive", "false")
    try {
      val e = intercept[java.io.IOException] {
        g.loadFile(FileRef("gdrive://folder/data.csv"))
      }
      assert(e.getMessage.contains("gdrive fetch failed"), e.getMessage)
    } finally spark.conf.unset("spark.graft.fetchCmd.gdrive")
  }
}
