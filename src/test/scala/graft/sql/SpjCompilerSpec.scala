package graft.sql

import org.apache.spark.sql.DataFrame

import graft.SparkSpec

class SpjCompilerSpec extends SparkSpec {
  import spark.implicits._

  private lazy val cust: DataFrame =
    Seq((1, "f", "alice", 10), (2, "m", "bob", 20), (3, "f", "carol", 30))
      .toDF("cid", "gender", "firstname", "nkey")
  private lazy val cart: DataFrame =
    Seq((100, 1, "open"), (101, 1, "paid"), (102, 2, "paid"))
      .toDF("cartid", "cid", "status")
  private lazy val bill: DataFrame =
    Seq((100, 700.0), (101, 1200.0), (102, 900.0))
      .toDF("cartid", "amount")

  private def catalog = Map("CUSTOMER" -> cust, "CART" -> cart, "BILL" -> bill)
  private def stats = Map("CUSTOMER" -> 3L, "CART" -> 3L, "BILL" -> 3L)

  private def run(sql: String): DataFrame =
    SpjCompiler.compile(SpjParser.parse(sql), catalog, stats)

  test("selection with literal coercion to column type") {
    val rows = run("""SELECT CUSTOMER.cid FROM CUSTOMER WHERE CUSTOMER.nkey > "15"""")
      .collect().map(_.getInt(0)).sorted
    assert(rows.toSeq == Seq(2, 3))
  }

  test("2-way equi join") {
    val rows = run(
      """SELECT CUSTOMER.cid, CART.cartid FROM CUSTOMER, CART
        |WHERE CUSTOMER.cid = CART.cid ORDERBY CART.cartid""".stripMargin)
      .collect().map(r => (r.getInt(0), r.getInt(1)))
    assert(rows.toSeq == Seq((1, 100), (1, 101), (2, 102)))
  }

  test("3-way chain with range selection") {
    val rows = run(
      """SELECT CUSTOMER.firstname, BILL.amount
        |FROM CUSTOMER, CART, BILL
        |WHERE CUSTOMER.cid = CART.cid, CART.cartid = BILL.cartid,
        |      BILL.amount < "1000"
        |ORDERBY BILL.amount""".stripMargin)
      .collect().map(r => (r.getString(0), r.getDouble(1)))
    assert(rows.toSeq == Seq(("alice", 700.0), ("bob", 900.0)))
  }

  test("GROUPBY + MAX/COUNT/AVG") {
    val rows = run(
      """SELECT CUSTOMER.gender, MAX(BILL.amount), COUNT(BILL.amount)
        |FROM CUSTOMER, CART, BILL
        |WHERE CUSTOMER.cid = CART.cid, CART.cartid = BILL.cartid
        |GROUPBY CUSTOMER.gender ORDERBY CUSTOMER.gender""".stripMargin)
      .collect().map(r => (r.getString(0), r.getDouble(1), r.getLong(2)))
    assert(rows.toSeq == Seq(("f", 1200.0, 2L), ("m", 900.0, 1L)))
  }

  test("global aggregate without GROUPBY") {
    val row = run("SELECT SUM(BILL.amount), MIN(BILL.amount) FROM BILL")
      .collect().head
    assert(row.getDouble(0) == 2800.0 && row.getDouble(1) == 700.0)
  }

  test("DISTINCT") {
    val rows = run("SELECT DISTINCT CART.status FROM CART")
      .collect().map(_.getString(0)).sorted
    assert(rows.toSeq == Seq("open", "paid"))
  }

  test("cross join when no condition links tables") {
    assert(run("SELECT CUSTOMER.cid, CART.cartid FROM CUSTOMER, CART")
      .count() == 9)
  }

  test("non-equi join") {
    // customer cids {1,2,3} x cart cids {1,1,2}: only 1 < 2 qualifies
    val n = run(
      """SELECT CUSTOMER.cid, CART.cartid FROM CUSTOMER, CART
        |WHERE CUSTOMER.cid < CART.cid""".stripMargin).count()
    assert(n == 1)
  }

  test("small side gets a broadcast hint") {
    val df = run(
      """SELECT CUSTOMER.cid, CART.cartid FROM CUSTOMER, CART
        |WHERE CUSTOMER.cid = CART.cid""".stripMargin)
    assert(df.queryExecution.sparkPlan.toString.contains("Broadcast"))
  }

  test("wide-row side (few rows, many bytes) loses the broadcast hint") {
    // few rows -> passes the row gate; byte stats say 1 GiB uncompressed
    // (the 500k-wide-strings case) -> the hint must NOT be emitted.
    // Auto-broadcast is disabled so any Broadcast in the plan could only
    // come from the compiler's own hint.
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val sql = """SELECT CUSTOMER.cid, CART.cartid FROM CUSTOMER, CART
                  |WHERE CUSTOMER.cid = CART.cid""".stripMargin
      def plan(byteStats: Map[String, Long]): String =
        SpjCompiler.compile(SpjParser.parse(sql), catalog, stats, byteStats)
          .queryExecution.sparkPlan.toString
      assert(!plan(Map("CUSTOMER" -> (1L << 30), "CART" -> (1L << 30)))
        .contains("Broadcast"))
      // control: the same query with small byte stats still hints
      assert(plan(Map("CUSTOMER" -> 1000L, "CART" -> 1000L))
        .contains("Broadcast"))
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("uncompressedBytes reads footer sizes that track row width") {
    import graft.Tables
    val tmp = java.nio.file.Files.createTempDirectory("graft_bytes").toString
    val narrow = Seq.tabulate(100)(i => (i.toLong, "x"))
      .toDF("id", "s")
    val wide = Seq.tabulate(100)(i => (i.toLong, "x" * 10000 + i))
      .toDF("id", "s")
    narrow.coalesce(1).write.parquet(s"$tmp/narrow.parquet")
    wide.coalesce(1).write.parquet(s"$tmp/wide.parquet")
    val nb = Tables.uncompressedBytes(spark, tmp, "narrow")
    val wb = Tables.uncompressedBytes(spark, tmp, "wide")
    assert(nb > 0 && wb > nb * 10,
      s"expected wide ($wb) >> narrow ($nb)")
  }

  test("compiles start no schema jobs, cold or warm; a rewritten table is re-read") {
    import graft.Tables
    val tmp = java.nio.file.Files.createTempDirectory("graft_warm").toString
    spark.range(200).selectExpr("id AS k", "id % 7 AS a")
      .coalesce(1).write.parquet(s"$tmp/wf.parquet")
    spark.range(50).selectExpr("id AS k", "cast(id AS string) AS b")
      .coalesce(1).write.parquet(s"$tmp/wd.parquet")
    val sql = "SELECT WF.a, WD.b FROM WF, WD WHERE WF.k = WD.k"

    // the schema-inference job runs outside any SQL execution, so it is
    // named by its stage's call site
    def schemaJobs(sites: Seq[String]): Seq[String] =
      sites.filter(_.startsWith("parquet at Tables.scala"))

    val cold = jobActions(SpjCompiler.run(spark, tmp, sql))
    assert(schemaJobs(cold).isEmpty, s"cold compile: $cold")
    val warm = jobActions(SpjCompiler.run(spark, tmp, sql))
    assert(warm.isEmpty, s"warm compile started jobs: $warm")
    assert(SpjCompiler.run(spark, tmp, sql).count() == 50)

    // rewrite wf in place: more rows and one more column
    val bytesBefore = Tables.uncompressedBytes(spark, tmp, "wf")
    spark.range(500).selectExpr("id AS k", "id % 7 AS a", "id * 2 AS c")
      .coalesce(1).write.mode("overwrite").parquet(s"$tmp/wf.parquet")
    val reread = jobActions {
      assert(Tables.load(spark, tmp, "wf").columns.toSeq == Seq("k", "a", "c"))
    }
    assert(reread.isEmpty, s"rewritten table: $reread")
    assert(Tables.load(spark, tmp, "wf").count() == 500)
    assert(Tables.rowCount(spark, tmp, "wf") == 500)
    assert(Tables.uncompressedBytes(spark, tmp, "wf") > bytesBefore)
  }

  test("TIME literals coerce to the timestamp column type (reference .det TIME)") {
    import java.sql.Timestamp
    val evts = Seq(
      (1, Timestamp.valueOf("2024-01-01 00:00:00")),
      (2, Timestamp.valueOf("2024-06-15 12:30:00")),
      (3, Timestamp.valueOf("2024-12-31 23:59:59")))
      .toDF("eid", "ts")
    val rows = SpjCompiler.compile(
      SpjParser.parse(
        """SELECT EVT.eid FROM EVT WHERE EVT.ts > "2024-03-01 00:00:00" ORDERBY EVT.eid"""),
      Map("EVT" -> evts), Map("EVT" -> 3L))
      .collect().map(_.getInt(0))
    assert(rows.toSeq == Seq(2, 3))
  }

  test("GROUPBY with no aggregated projection is DISTINCT over the keys") {
    val rows = run(
      "SELECT CART.status FROM CART GROUPBY CART.status ORDERBY CART.status")
      .collect().map(_.getString(0))
    assert(rows.toSeq == Seq("open", "paid"))
    // key listed in GROUPBY but projection includes a second plain column
    val rows2 = run(
      """SELECT CART.cid, CART.status FROM CART
        |GROUPBY CART.cid ORDERBY CART.cid, CART.status""".stripMargin)
      .collect().map(r => (r.getInt(0), r.getString(1)))
    assert(rows2.toSeq ==
      Seq((1, "open"), (1, "paid"), (2, "paid")))
  }

  test("cost-based DP join order beats greedy where greedy provably loses") {
    // The RandomOptimizer/PlanCost closure (reference
    // src/qp/optimizer/RandomOptimizer.java + PlanCost.java): a catalog
    // where smallest-relation-first is the WRONG order. FACT ⋈ SM on s is
    // a multiplying join (5 distinct s values: 10000·50/5 = 100k rows);
    // FACT ⋈ BG on b is a key join (10000·2000/10000 = 2k rows). Greedy
    // seeds the smallest relation (SM, 50 rows) and pays the 100k
    // intermediate; the DP's Σ-intermediate cost model joins FACT ⋈ BG
    // first (2k + 20k vs 100k + 20k) and defers the blow-up to the top.
    val sql = """SELECT FACT.b FROM FACT, SM, BG
                |WHERE FACT.s = SM.s, FACT.b = BG.b""".stripMargin
    val q = SpjParser.parse(sql)
    val rowsOf = Map("fact" -> 10000L, "sm" -> 50L, "bg" -> 2000L)
    val ndv = Map(
      "fact" -> Map("s" -> 5L, "b" -> 10000L),
      "sm" -> Map("s" -> 5L),
      "bg" -> Map("b" -> 2000L))
    val dp = SpjCompiler.joinOrder(q, rowsOf, ndv)
    assert(dp.toSet == Set("fact", "sm", "bg"))
    assert(dp.last == "sm",
      s"DP must defer the multiplying SM join to the top, got $dp")
    val greedy = SpjCompiler.greedyOrder(q, rowsOf)
    assert(greedy.head == "sm",
      s"the catalog is crafted so greedy seeds SM, got $greedy")
    // end-to-end on real data shaped like the stats: results are exact
    // regardless of order, so the reorder is a pure plan win
    val fact = spark.range(10000).selectExpr(
      "cast(id % 5 as int) AS s", "cast(id as int) AS b")
    val sm = spark.range(50).selectExpr(
      "cast(id % 5 as int) AS s", "cast(id as int) AS tag")
    val bg = spark.range(2000).selectExpr("cast(id as int) AS b")
    val out = SpjCompiler.compile(q,
      Map("FACT" -> fact, "SM" -> sm, "BG" -> bg),
      rowsOf.map { case (k, v) => k.toUpperCase -> v }, Map.empty, ndv)
    // every FACT.b < 2000 matches one BG row and 10 SM rows
    assert(out.count() == 20000L)
    assert(out.distinct().count() == 2000L)
  }

  test("DP order with no useful stats still avoids cartesian products") {
    // all-equal row counts and no NDVs: the connected-extensions-only rule
    // must still hold (RandomInitialPlan never volunteers a cross join)
    val sql = """SELECT CUSTOMER.cid FROM CUSTOMER, CART, BILL
                |WHERE CUSTOMER.cid = CART.cid, CART.cartid = BILL.cartid""".stripMargin
    val order = SpjCompiler.joinOrder(SpjParser.parse(sql),
      Map("customer" -> 3L, "cart" -> 3L, "bill" -> 3L), Map.empty)
    // every prefix of the order must be connected: customer and bill may
    // never be the first two tables
    assert(order.take(2).toSet != Set("customer", "bill"),
      s"disconnected prefix in $order")
  }

  test("rangeSel interpolates the histogram, not just [min,max]") {
    // skewed 4-bin histogram over [0,4]: half the mass in [0,1), half in
    // [3,4]. Linear min/max interpolation would say P(x<0.5)=0.125; the
    // histogram knows the first bin is heavy.
    val cs = graft.Tables.ColStats(20L, 0.0, 4.0, Seq(10L, 0L, 0L, 10L))
    assert(math.abs(SpjCompiler.rangeSel(cs, SpjAst.Lt, 2.0) - 0.5) < 1e-9)
    assert(math.abs(SpjCompiler.rangeSel(cs, SpjAst.Lt, 0.5) - 0.25) < 1e-9)
    assert(math.abs(SpjCompiler.rangeSel(cs, SpjAst.Gt, 3.5) - 0.25) < 1e-9)
    // out-of-domain literals clamp to 0/1
    assert(SpjCompiler.rangeSel(cs, SpjAst.Lt, -1.0) == 0.0)
    assert(SpjCompiler.rangeSel(cs, SpjAst.Lt, 99.0) == 1.0)
    assert(SpjCompiler.rangeSel(cs, SpjAst.Ge, 99.0) == 0.0)
    // date literals coerce to epoch days, numerics pass through
    assert(SpjCompiler.litDouble("42.5").contains(42.5))
    assert(SpjCompiler.litDouble("1970-01-11").contains(10.0))
    assert(SpjCompiler.litDouble("bob").isEmpty)
  }

  test("ANALYZE range stats flip the DP join order (persisted artifact)") {
    // Catalog crafted so the range predicate's TRUE selectivity (~0.9,
    // WC.x uniform on [0,59], pred x < 54) contradicts the System R 1/3
    // default. card(WA⋈WB) = 1000·50/100 = 500 either way;
    // card(WA⋈WC) = 1000·|WC_f|/60 — 333 under the 1/3 default (join WC
    // first), ~900 under the histogram (join WB first). The flip must come
    // from the PERSISTED _graft_stats.parquet artifact: the same data in
    // an un-ANALYZEd dir keeps the default order.
    val sql = """SELECT WA.k FROM WA, WB, WC
                |WHERE WA.k = WB.k, WA.j = WC.j, WC.x < "54"""".stripMargin
    def writeTables(dir: String): Unit = {
      spark.range(1000).selectExpr(
          "cast(id % 100 as int) AS k", "cast(id % 60 as int) AS j")
        .write.parquet(s"$dir/wa.parquet")
      spark.range(50).selectExpr("cast(id as int) AS k")
        .write.parquet(s"$dir/wb.parquet")
      spark.range(60).selectExpr(
          "cast(id as int) AS j", "cast(id as double) AS x")
        .write.parquet(s"$dir/wc.parquet")
    }
    val plain = java.nio.file.Files.createTempDirectory("spj_plain").toString
    val stats = java.nio.file.Files.createTempDirectory("spj_stats").toString
    writeTables(plain); writeTables(stats)
    graft.tools.TableTools.analyze(spark, stats, Seq("wa", "wb", "wc"))

    // the artifact round-trips the domain + histogram
    val wcStats = graft.Tables.columnRanges(spark, stats, "wc")
    val xs = wcStats("x")
    assert(xs.min == 0.0 && xs.max == 59.0 && xs.hist.sum == 60L)
    assert(wcStats.contains("j") && !wcStats.contains("nonexistent"))

    val defOrder = SpjCompiler.explainOrder(spark, plain, sql)
    val histOrder = SpjCompiler.explainOrder(spark, stats, sql)
    assert(defOrder.indexOf("wc") < defOrder.indexOf("wb"),
      s"1/3 default must join the 'filtered' WC early, got $defOrder")
    assert(histOrder.indexOf("wb") < histOrder.indexOf("wc"),
      s"histogram (sel≈0.9) must join WB first, got $histOrder")

    // end-to-end through run() on the ANALYZEd dir: plan choice only,
    // results exact. Each WA row matches ≤1 WB row (k<50) and exactly one
    // WC row; x<54 keeps j<54 ⇒ count = |{id: id%100<50 ∧ id%60<54}|.
    val expect = (0 until 1000).count(i => i % 100 < 50 && i % 60 < 54)
    assert(SpjCompiler.run(spark, stats, sql).count() == expect)
  }

  test("analyze invalidates per-dir stats memos: a compile priced BEFORE " +
    "ANALYZE sees the fresh artifact afterwards, not the memoized absence") {
    // same catalog shape as the artifact test above; the difference is
    // the ORDER of operations — price first (memoizing 'artifact absent'
    // for the dir), then ANALYZE the SAME dir, then price again
    val sql = """SELECT WA.k FROM WA, WB, WC
                |WHERE WA.k = WB.k, WA.j = WC.j, WC.x < "54"""".stripMargin
    val dir = java.nio.file.Files.createTempDirectory("spj_inval").toString
    spark.range(1000).selectExpr(
        "cast(id % 100 as int) AS k", "cast(id % 60 as int) AS j")
      .write.parquet(s"$dir/wa.parquet")
    spark.range(50).selectExpr("cast(id as int) AS k")
      .write.parquet(s"$dir/wb.parquet")
    spark.range(60).selectExpr(
        "cast(id as int) AS j", "cast(id as double) AS x")
      .write.parquet(s"$dir/wc.parquet")
    val before = SpjCompiler.explainOrder(spark, dir, sql)
    assert(before.indexOf("wc") < before.indexOf("wb"),
      s"pre-ANALYZE must price the range at the 1/3 default, got $before")
    graft.tools.TableTools.analyze(spark, dir, Seq("wa", "wb", "wc"))
    val after = SpjCompiler.explainOrder(spark, dir, sql)
    assert(after.indexOf("wb") < after.indexOf("wc"),
      s"stale per-dir memo survived analyze(): $after")
  }

  test("projected non-aggregate column absent from GROUPBY becomes a key") {
    val rows = run(
      """SELECT CART.status, COUNT(CART.cartid) FROM CART
        |GROUPBY CART.status ORDERBY CART.status""".stripMargin)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    assert(rows.toSeq == Seq(("open", 1L), ("paid", 2L)))
  }
}
