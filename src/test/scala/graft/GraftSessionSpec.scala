package graft

class GraftSessionSpec extends SparkTestBase {

  test("registerTables exposes every testdata table to spark.sql") {
    GraftSession.registerTables(spark, "/root/testdata/sf0.001")
    val n = spark.sql(
      """SELECT count(*) FROM lineitem l
        |JOIN orders o ON l.l_orderkey = o.o_orderkey""".stripMargin)
      .collect().head.getLong(0)
    assert(n > 0)
    assert(spark.sql("SELECT count(*) FROM documents")
      .collect().head.getLong(0) > 0)
  }

  test("graft_dot is available through sql after registration") {
    graft.expressions.GraftFunctions.register(spark)
    val r = spark.sql(
      "SELECT graft_dot(array(1.0d, 2.0d), array(3.0d, 4.0d)) AS d")
      .collect().head.getDouble(0)
    assert(r == 11.0)
  }

  /** The runtime rows of the table, each set to `value(row value)`
    * (None: unset) for the body, then restored to the test session's
    * values. */
  private def withRuntimeRows(cores: Int)(value: String => Option[String])
    (body: Seq[(String, String)] => Unit): Unit = {
    val rows = GraftSession.settings(cores).filter(_._1.startsWith("spark.sql."))
    val before = rows.map { case (k, _) => k -> spark.conf.get(k) }
    try {
      rows.foreach { case (k, v) =>
        value(v).fold(spark.conf.unset(k))(spark.conf.set(k, _))
      }
      body(rows)
    } finally before.foreach { case (k, v) => spark.conf.set(k, v) }
  }

  test("create() re-applies shuffle.partitions on a PRE-EXISTING " +
    "session (builder configs are silently dropped there)") {
    // every runtime row knocked off its value first
    // (shuffle.partitions=200 is the default pathology)
    def off(v: String) = Some(v match {
      case "true" => "false"
      case "false" => "true"
      case "UTC" => "America/Los_Angeles"
      case n if n.forall(_.isDigit) => "200"
      case _ => "0" // a byte size
    })
    withRuntimeRows(8)(off) { rows =>
      val s = GraftSession.create(cores = 8)
      assert(s eq spark) // getOrCreate returned the existing session
      rows.foreach { case (k, v) =>
        assert(s.conf.get(k) == v,
          s"$k must survive the pre-existing-session path")
      }
    }
  }

  test("settings drift: every row of the table is live in the test " +
    "session, and create() carries the shuffled-hash-join rows") {
    GraftSession.settings(4).foreach { case (k, v) =>
      val live =
        if (k.startsWith("spark.sql.")) spark.conf.get(k)
        else spark.sparkContext.getConf.getOption(k).orNull
      assert(live == v, k)
    }
    // Spark's defaults (sort-merge preferred) until create() runs
    withRuntimeRows(4)(_ => None) { rows =>
      val s = GraftSession.create(cores = 4)
      rows.foreach { case (k, v) => assert(s.conf.get(k) == v, k) }
    }
  }

}
