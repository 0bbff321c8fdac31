package graft

import java.nio.file.Files
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.Aggregate
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.lake._

/** Opt-in MV query rewrite (VERDICT r15 #5, [[LakeMvRewrite]]): a grouped
  * aggregate over a lake table that structurally matches a FRESH
  * materialized view is answered from the MV table — no fact scan in the
  * plan — and falls back verbatim whenever stale, unmatched, or disabled. */
class MvRewriteSpec extends AnyFunSuite {
  import TestSession.spark

  private def mkLake(tag: String): (Lake, String) = {
    val lake = new Lake(spark, Files.createTempDirectory(s"graft_mvrw$tag").toString)
    val cat = s"mvrw$tag${System.nanoTime()}"
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[LakeCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.root", lake.root)
    (lake, cat)
  }

  /** whether `df`'s optimized plan reads a table through the catalog (the
    * fact or a dim); a served MV reads through an internal relation of its
    * own (`LakeRead.scanDF`) */
  private def scansCatalogTable(df: DataFrame): Boolean =
    LakeTable.readsCatalogTable(df.queryExecution.optimizedPlan)

  private def aggCount(df: DataFrame): Int =
    df.queryExecution.optimizedPlan.collect { case a: Aggregate => a }.size

  private def withMode[T](m: String)(body: => T): T = {
    spark.conf.set("spark.graft.mv.rewrite", m)
    try body finally spark.conf.unset("spark.graft.mv.rewrite")
  }

  test("fresh MV answers the matching aggregate with NO fact scan; off stays verbatim") {
    val (lake, cat) = mkLake("a")
    import spark.implicits._
    lake.createTableAs("main.src",
      Seq(("a", 1L, 10L), ("a", 2L, 20L), ("b", 3L, 30L)).toDF("g", "x", "y"))
    lake.createMaterializedView("main.mv", "main.src",
      groupCols = Seq("g"), sumCols = Seq("x"), minMaxCols = Seq("y"))
    lake.append("main.src", Seq(("b", 4L, 5L)).toDF("g", "x", "y"))
    lake.refreshMaterializedView("main.mv")

    def q() = spark.sql(
      s"""SELECT g, count(*) AS n, sum(x) AS s, min(y) AS mn, max(y) AS mx
         |FROM $cat.main.src GROUP BY g""".stripMargin)
    val want = Set(("a", 2L, 3L, 10L, 20L), ("b", 2L, 7L, 5L, 30L))
    def rows(df: DataFrame) = df.collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSet

    // default off: the aggregate plans as an aggregate over the fact
    assert(aggCount(q()) == 1)
    assert(rows(q()) == want)
    withMode("fresh") {
      val df = q()
      assert(aggCount(df) == 0,
        s"matching fresh MV must replace the aggregate:\n${df.queryExecution.optimizedPlan}")
      val plan = df.queryExecution.optimizedPlan.toString
      assert(!plan.toLowerCase.contains("src"),
        s"rewritten plan must not touch the fact table:\n$plan")
      assert(rows(df) == want)
      // HAVING folds naturally: the filter sits above the served Project
      val h = spark.sql(s"SELECT g, sum(x) AS s FROM $cat.main.src " +
        "GROUP BY g HAVING count(*) > 1")
      assert(rows2(h) == Set(("a", 3L), ("b", 7L)))
    }
  }

  private def rows2(df: DataFrame) =
    df.collect().map(r => (r.getString(0), r.getLong(1))).toSet

  test("stale MV: fresh mode falls back verbatim; refresh mode refreshes and serves") {
    val (lake, cat) = mkLake("b")
    import spark.implicits._
    lake.createTableAs("main.src", Seq(("a", 1L), ("b", 2L)).toDF("g", "x"))
    lake.createMaterializedView("main.mv", "main.src",
      groupCols = Seq("g"), sumCols = Seq("x"))
    lake.append("main.src", Seq(("a", 10L)).toDF("g", "x")) // MV now stale

    def q() = spark.sql(s"SELECT g, sum(x) AS s FROM $cat.main.src GROUP BY g")
    val want = Set(("a", 11L), ("b", 2L))
    withMode("fresh") {
      val df = q()
      assert(aggCount(df) == 1, "stale MV must not serve in fresh mode")
      assert(rows2(df) == want)
    }
    withMode("refresh") {
      val df = q()
      assert(rows2(df) == want)
      assert(aggCount(df) == 0,
        s"refresh mode must refresh-on-read then serve:\n${df.queryExecution.optimizedPlan}")
      // and the refresh really landed: fresh mode now serves too
      spark.conf.set("spark.graft.mv.rewrite", "fresh")
      assert(aggCount(q()) == 0)
    }
  }

  test("filtered MV matches its filter; residual group-key conjuncts re-apply on the MV") {
    val (lake, cat) = mkLake("c")
    import spark.implicits._
    lake.createTableAs("main.src",
      Seq(("a", 1L, 1L), ("a", 2L, 2L), ("b", 3L, 1L), ("c", 4L, 2L))
        .toDF("g", "x", "flag"))
    lake.createMaterializedView("main.mv", "main.src",
      groupCols = Seq("g"), sumCols = Seq("x"), filterSql = Some("flag = 1"))

    withMode("fresh") {
      val df = spark.sql(s"SELECT g, sum(x) AS s FROM $cat.main.src " +
        "WHERE flag = 1 GROUP BY g")
      assert(aggCount(df) == 0,
        s"filter-matching MV must serve:\n${df.queryExecution.optimizedPlan}")
      assert(rows2(df) == Set(("a", 1L), ("b", 3L)))
      // residual conjunct on the GROUP column re-applies over the MV rows
      val dfr = spark.sql(s"SELECT g, sum(x) AS s FROM $cat.main.src " +
        "WHERE flag = 1 AND g <> 'b' GROUP BY g")
      assert(aggCount(dfr) == 0,
        s"group-key residual must re-apply on MV:\n${dfr.queryExecution.optimizedPlan}")
      assert(rows2(dfr) == Set(("a", 1L)))
      // a residual on a NON-group column cannot serve: falls back
      val dfn = spark.sql(s"SELECT g, sum(x) AS s FROM $cat.main.src " +
        "WHERE flag = 1 AND x < 4 GROUP BY g")
      assert(aggCount(dfn) == 1, "non-group residual must fall back")
      assert(rows2(dfn) == Set(("a", 1L), ("b", 3L)))
      // filter mismatch (missing MV conjunct) falls back
      val dfm = spark.sql(s"SELECT g, sum(x) AS s FROM $cat.main.src GROUP BY g")
      assert(aggCount(dfm) == 1, "filterless query over filtered MV must fall back")
      assert(rows2(dfm) == Set(("a", 3L), ("b", 3L), ("c", 4L)))
    }
  }

  test("nullable SUM serves only with maintained COUNT state; unmatched aggs fall back") {
    val (lake, cat) = mkLake("d")
    import spark.implicits._
    val src = Seq(("a", Some(1L)), ("a", None), ("b", None))
      .toDF("g", "x") // x nullable; group b is all-NULL
    lake.createTableAs("main.src", src)
    // mv1 maintains sum+cnt: SUM rewrites through the NULL-on-empty guard
    lake.createMaterializedView("main.mv1", "main.src",
      groupCols = Seq("g"), sumCols = Seq("x"), cntCols = Seq("x"))
    withMode("fresh") {
      val df = spark.sql(s"SELECT g, sum(x) AS s FROM $cat.main.src GROUP BY g")
      assert(aggCount(df) == 0,
        s"sum+cnt MV must serve:\n${df.queryExecution.optimizedPlan}")
      val got = df.collect().map(r => r.getString(0) ->
        (if (r.isNullAt(1)) null else r.getLong(1))).toMap
      assert(got == Map("a" -> 1L, "b" -> null),
        s"all-NULL group must report SQL NULL, not the additive 0: $got")
      // an aggregate the MV does not maintain falls back verbatim
      val dfa = spark.sql(s"SELECT g, avg(x) AS a FROM $cat.main.src GROUP BY g")
      assert(aggCount(dfa) == 1)
      // DISTINCT never serves from additive state
      val dfd = spark.sql(
        s"SELECT g, count(DISTINCT x) AS d FROM $cat.main.src GROUP BY g")
      assert(aggCount(dfd) >= 1)
    }
    // mv2 maintains sum WITHOUT cnt over the nullable column: must NOT serve
    val (lake2, cat2) = mkLake("d2")
    lake2.createTableAs("main.src", src)
    lake2.createMaterializedView("main.mv2", "main.src",
      groupCols = Seq("g"), sumCols = Seq("x"))
    withMode("fresh") {
      val df = spark.sql(s"SELECT g, sum(x) AS s FROM $cat2.main.src GROUP BY g")
      assert(aggCount(df) == 1,
        "nullable SUM without COUNT state must fall back (0-vs-NULL)")
    }
  }

  test("rollup: a coarser GROUP BY re-aggregates from the MV, never the fact") {
    val (lake, cat) = mkLake("r")
    import spark.implicits._
    // (region, city) MV; queries roll up to region and to the GLOBAL agg
    lake.createTableAs("main.src", Seq(
      ("e", "ber", Some(1L), 10L), ("e", "ber", None, 20L),
      ("e", "par", Some(5L), 5L), ("a", "tok", None, 7L), ("a", "tok", None, 9L))
      .toDF("region", "city", "x", "y"))
    lake.createMaterializedView("main.mv", "main.src",
      groupCols = Seq("region", "city"), sumCols = Seq("x"),
      cntCols = Seq("x"), avgCols = Seq("x"), minMaxCols = Seq("y"))
    withMode("fresh") {
      def noFact(df: DataFrame): Unit = {
        val p = df.queryExecution.optimizedPlan.toString
        assert(!scansCatalogTable(df),
          s"rollup must re-aggregate the MV, not scan the fact:\n$p")
      }
      val df = spark.sql(
        s"""SELECT region, count(*) AS n, sum(x) AS s, count(x) AS c,
           |  avg(x) AS av, min(y) AS mn, max(y) AS mx
           |FROM $cat.main.src GROUP BY region""".stripMargin)
      noFact(df)
      val got = df.collect().map(r => r.getString(0) ->
        (r.getLong(1), if (r.isNullAt(2)) null else r.getLong(2),
          r.getLong(3), if (r.isNullAt(4)) null else r.getDouble(4),
          r.getLong(5), r.getLong(6))).toMap
      assert(got == Map(
        "e" -> (3L, 6L, 2L, 3.0, 5L, 20L),
        "a" -> (2L, null, 0L, null, 7L, 9L)), got.toString)
      // GLOBAL aggregate (no GROUP BY) rolls up too
      val g = spark.sql(
        s"SELECT count(*) AS n, sum(x) AS s, max(y) AS mx FROM $cat.main.src")
      noFact(g)
      val gr = g.collect().head
      assert((gr.getLong(0), gr.getLong(1), gr.getLong(2)) == ((5L, 6L, 20L)))
      // residual on a NON-queried MV group column still commutes: filter
      // the MV rows by city, then roll up to region
      val f = spark.sql(s"SELECT region, sum(x) AS s FROM $cat.main.src " +
        "WHERE city <> 'par' GROUP BY region")
      noFact(f)
      assert(f.collect().map(r => r.getString(0) ->
        (if (r.isNullAt(1)) null else r.getLong(1))).toMap ==
        Map("e" -> 1L, "a" -> null))
      // grouping by a NON-MV column falls back verbatim
      val nf = spark.sql(
        s"SELECT y, count(*) AS n FROM $cat.main.src GROUP BY y")
      assert(scansCatalogTable(nf))
      assert(nf.count() == 5)
    }
  }

  test("global aggregate over an EMPTY source: rollup reports count 0, not NULL") {
    val (lake, cat) = mkLake("z")
    import spark.implicits._
    lake.createTableAs("main.src",
      Seq(("a", 1L)).toDF("g", "x").filter(col("x") < 0)) // empty
    lake.createMaterializedView("main.mv", "main.src",
      groupCols = Seq("g"), sumCols = Seq("x"), cntCols = Seq("x"))
    withMode("fresh") {
      val g = spark.sql(s"SELECT count(*) AS n, sum(x) AS s FROM $cat.main.src")
      assert(!scansCatalogTable(g),
        g.queryExecution.optimizedPlan.toString)
      val r = g.collect().head
      assert(r.getLong(0) == 0L && r.isNullAt(1),
        s"empty-source global agg must be (0, NULL): $r")
    }
  }

  test("join-source MV serves the query that IS the join; dim churn gates freshness") {
    val (lake, cat) = mkLake("j")
    import spark.implicits._
    // fact row k=99 has no dim match → inner semantics drop it both ways
    lake.createTableAs("main.fact",
      Seq((1L, 10L), (1L, 20L), (2L, 5L), (99L, 7L)).toDF("k", "x"))
    lake.createTableAs("main.dim",
      Seq((1L, "a"), (2L, "b"), (3L, "b")).toDF("dk", "seg"))
    lake.createMaterializedView("main.mvj", "main.fact",
      groupCols = Seq("seg"), sumCols = Seq("x"),
      dimTable = Some("main.dim"), dimKeys = Seq(("k", "dk")))
    def q(sqlText: String) = spark.sql(sqlText)
    val join =
      s"""SELECT seg, count(*) AS n, sum(x) AS s
         |FROM $cat.main.fact f JOIN $cat.main.dim d ON f.k = d.dk
         |GROUP BY seg""".stripMargin
    val want = Set(("a", 2L, 30L), ("b", 1L, 5L))
    def rows3(df: DataFrame) = df.collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(rows3(q(join)) == want) // rule off: ground truth
    withMode("fresh") {
      val df = q(join)
      val p = df.queryExecution.optimizedPlan.toString
      assert(!scansCatalogTable(df),
        s"join-source MV must serve the join query:\n$p")
      assert(rows3(df) == want)
      // reversed side order matches too (orientation flip)
      val rev = q(
        s"""SELECT seg, count(*) AS n, sum(x) AS s
           |FROM $cat.main.dim d JOIN $cat.main.fact f ON d.dk = f.k
           |GROUP BY seg""".stripMargin)
      assert(!scansCatalogTable(rev))
      assert(rows3(rev) == want)
      // a per-side filter is NOT the MV's shape: falls back
      val side = q(
        s"""SELECT seg, sum(x) AS s
           |FROM (SELECT * FROM $cat.main.fact WHERE x > 5) f
           |JOIN $cat.main.dim d ON f.k = d.dk GROUP BY seg""".stripMargin)
      assert(scansCatalogTable(side))
      // DIM churn makes the MV stale: freshness gates on BOTH tables
      lake.update("main.dim", col("dk") === 2L, Map("seg" -> lit("a")))
      val stale = q(join)
      assert(scansCatalogTable(stale),
        "dim change must disqualify the join-MV until refreshed")
      assert(rows3(stale) == Set(("a", 3L, 35L)))
    }
    withMode("refresh") {
      val df = q(join) // refresh-on-read folds the dim delta, then serves
      assert(rows3(df) == Set(("a", 3L, 35L)))
      assert(!scansCatalogTable(df),
        s"refresh mode must serve after folding the dim delta:\n${df.queryExecution.optimizedPlan}")
    }
  }

  test("DECIMAL SUM serves exact + rollup; decimal AVG and scale-mismatch fall back (r17)") {
    val (lake, cat) = mkLake("dec")
    import spark.implicits._
    val src = Seq(
      ("e", "x1", Some(BigDecimal("10.25"))), ("e", "x1", Some(BigDecimal("0.75"))),
      ("e", "x2", Some(BigDecimal("3.50"))), ("a", "y1", None))
      .toDF("region", "city", "rev")
      .select(col("region"), col("city"), col("rev").cast("decimal(12,2)").as("rev"))
    lake.createTableAs("main.src", src)
    lake.createMaterializedView("main.mv", "main.src",
      groupCols = Seq("region", "city"), sumCols = Seq("rev"),
      cntCols = Seq("rev"), avgCols = Seq("rev"))
    withMode("fresh") {
      def noFact(df: DataFrame): Unit =
        assert(!scansCatalogTable(df),
          s"must serve from the MV:\n${df.queryExecution.optimizedPlan}")
      // exact group match: decimal sum serves through the COUNT guard
      val ex = spark.sql(
        s"""SELECT region, city, sum(rev) AS s, count(rev) AS c
           |FROM $cat.main.src GROUP BY region, city""".stripMargin)
      noFact(ex)
      assert(aggCount(ex) == 0)
      val got = ex.collect().map(r => (r.getString(0), r.getString(1)) ->
        (Option(r.getDecimal(2)).map(_.toString).orNull, r.getLong(3))).toMap
      assert(got == Map(("e", "x1") -> ("11.00", 2L), ("e", "x2") -> ("3.50", 1L),
        ("a", "y1") -> (null, 0L)), got.toString)
      // the query's Sum type is decimal(22,2) (p+10); state is decimal(38,2)
      assert(ex.schema("s").dataType ==
        org.apache.spark.sql.types.DecimalType(22, 2), ex.schema.treeString)
      // rollup: Σ of decimal sums re-aggregates from the MV
      val ru = spark.sql(
        s"SELECT region, sum(rev) AS s FROM $cat.main.src GROUP BY region")
      noFact(ru)
      assert(ru.collect().map(r => r.getString(0) ->
        Option(r.getDecimal(1)).map(_.toString).orNull).toMap ==
        Map("e" -> "14.50", "a" -> null))
      // decimal AVG has decimal rounding the double state cannot reproduce:
      // falls back verbatim (and the verbatim answer is right)
      val av = spark.sql(
        s"SELECT region, city, avg(rev) AS a FROM $cat.main.src GROUP BY region, city")
      assert(aggCount(av) == 1,
        s"decimal AVG must fall back:\n${av.queryExecution.optimizedPlan}")
      // scale-changing SUM (sum of a rescaled cast) falls back
      val sc = spark.sql(
        s"""SELECT region, city, sum(CAST(rev AS DECIMAL(12,4))) AS s
           |FROM $cat.main.src GROUP BY region, city""".stripMargin)
      assert(aggCount(sc) == 1, "scale-mismatched SUM must fall back")
    }
  }

  test("date_trunc group-key MV serves the time-bucket query; a different bucket falls back (r17)") {
    val (lake, cat) = mkLake("tx")
    import spark.implicits._
    val src = Seq(
      ("2024-03-01 08:00:00", 1L), ("2024-03-01 17:30:00", 2L),
      ("2024-03-02 00:00:01", 10L), ("2024-04-05 12:00:00", 100L))
      .toDF("tss", "x")
      .select(col("tss").cast("timestamp").as("ts"), col("x"))
    lake.createTableAs("main.src", src)
    lake.createMaterializedView("main.mv", "main.src",
      groupCols = Nil, sumCols = Seq("x"),
      groupExprs = Seq(("day_ts", "date_trunc('DAY', ts)")))
    lake.append("main.src", Seq(("2024-03-02 06:00:00", 20L))
      .toDF("tss", "x").select(col("tss").cast("timestamp").as("ts"), col("x")))
    lake.refreshMaterializedView("main.mv")
    withMode("fresh") {
      // the daily-rollup query is served from the MV: no fact relation
      val df = spark.sql(
        s"""SELECT date_trunc('DAY', ts) AS d, count(*) AS n, sum(x) AS s
           |FROM $cat.main.src GROUP BY date_trunc('DAY', ts)""".stripMargin)
      val p = df.queryExecution.optimizedPlan
      assert(scansCatalogTable(df) == false, s"date_trunc MV must serve the bucket query:\n$p")
      val got = df.collect().map(r =>
        r.getTimestamp(0).toString -> (r.getLong(1), r.getLong(2))).toMap
      assert(got == Map(
        "2024-03-01 00:00:00.0" -> (2L, 3L),
        "2024-03-02 00:00:00.0" -> (2L, 30L),
        "2024-04-05 00:00:00.0" -> (1L, 100L)), got.toString)
      // a residual is fine when it references only plain group cols — here
      // there are none, so a source-column residual falls back
      val r1 = spark.sql(
        s"""SELECT date_trunc('DAY', ts) AS d, sum(x) AS s
           |FROM $cat.main.src WHERE x > 1 GROUP BY date_trunc('DAY', ts)""".stripMargin)
      assert(scansCatalogTable(r1), "non-group residual must fall back")
      // a DIFFERENT bucket expression (month-from-day) is NOT servable
      // from a day-keyed MV: canonicalized forms differ -> verbatim
      val mo = spark.sql(
        s"""SELECT date_trunc('MONTH', ts) AS mth, sum(x) AS s
           |FROM $cat.main.src GROUP BY date_trunc('MONTH', ts)""".stripMargin)
      assert(scansCatalogTable(mo), "month bucket over a day-keyed MV must fall back")
      assert(mo.collect().map(r => r.getTimestamp(0).toString -> r.getLong(1))
        .toMap == Map("2024-03-01 00:00:00.0" -> 33L, "2024-04-01 00:00:00.0" -> 100L))
    }
  }

  test("snowflake MV (two dims) serves the join chain; dim churn gates freshness (r17)") {
    val (lake, cat) = mkLake("sn")
    import spark.implicits._
    lake.createTableAs("main.fact",
      Seq((1L, 10L), (1L, 20L), (2L, 5L), (3L, 7L)).toDF("fk", "x"))
    lake.createTableAs("main.d1",
      Seq((1L, "red"), (2L, "blue"), (3L, "red")).toDF("k", "seg"))
    lake.createTableAs("main.d2",
      Seq(("red", "emea"), ("blue", "apac")).toDF("seg2", "region"))
    lake.createMaterializedView("main.mv", "main.fact",
      groupCols = Seq("region"), sumCols = Seq("x"),
      dims = Seq(("main.d1", Seq(("fk", "k"))),
        ("main.d2", Seq(("seg", "seg2")))))
    val chain =
      s"""SELECT region, count(*) AS n, sum(x) AS s
         |FROM $cat.main.fact f JOIN $cat.main.d1 a ON f.fk = a.k
         |JOIN $cat.main.d2 b ON a.seg = b.seg2
         |GROUP BY region""".stripMargin
    def rows3(df: DataFrame) = df.collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    val want = Set(("emea", 3L, 37L), ("apac", 1L, 5L))
    assert(rows3(spark.sql(chain)) == want) // rule off: ground truth
    withMode("fresh") {
      val df = spark.sql(chain)
      assert(!scansCatalogTable(df),
        s"snowflake MV must serve the 2-dim chain:\n${df.queryExecution.optimizedPlan}")
      assert(rows3(df) == want)
      // bottom-join orientation flip (d1 JOIN fact) still serves via the
      // alternate parse
      val flip = spark.sql(
        s"""SELECT region, count(*) AS n, sum(x) AS s
           |FROM $cat.main.d1 a JOIN $cat.main.fact f ON a.k = f.fk
           |JOIN $cat.main.d2 b ON a.seg = b.seg2
           |GROUP BY region""".stripMargin)
      assert(!scansCatalogTable(flip),
        s"flipped bottom join must serve:\n${flip.queryExecution.optimizedPlan}")
      assert(rows3(flip) == want)
      // note: a comma/ON-1=1 reordering of the SAME chain is normalized by
      // Catalyst's join reorder and legitimately serves; a join on a
      // DIFFERENT key than the MV's is a different query: fall back
      val wrong = spark.sql(
        s"""SELECT region, sum(x) AS s
           |FROM $cat.main.fact f JOIN $cat.main.d1 a ON f.fk = a.k
           |JOIN $cat.main.d2 b ON a.seg = b.region
           |GROUP BY region""".stripMargin)
      assert(scansCatalogTable(wrong),
        s"wrong-key chain must fall back:\n${wrong.queryExecution.optimizedPlan}")
      // MIDDLE-dim churn gates: an update to d1 disqualifies until refresh
      lake.update("main.d1", col("k") === 3L, Map("seg" -> lit("blue")))
      val stale = spark.sql(chain)
      assert(scansCatalogTable(stale),
        "dim churn must disqualify the snowflake MV until refreshed")
      val want2 = Set(("emea", 2L, 30L), ("apac", 2L, 12L))
      assert(rows3(stale) == want2)
    }
    withMode("refresh") {
      val df = spark.sql(chain) // refresh-on-read folds the d1 delta, serves
      assert(rows3(df) == Set(("emea", 2L, 30L), ("apac", 2L, 12L)))
      assert(!scansCatalogTable(df),
        s"refresh mode must serve after folding the dim delta:\n${df.queryExecution.optimizedPlan}")
    }
  }

  test("per-view mv.rewrite option scopes serving; survives freeze->thaw (r17 stretch)") {
    val (lake, cat) = mkLake("pv")
    import spark.implicits._
    lake.createTableAs("main.src", Seq(("a", 1L), ("b", 2L)).toDF("g", "x"))
    // created WITH rewrite=off via the SQL DDL surface
    spark.sql(s"SET CATALOG $cat")
    try spark.sql(
      """CREATE MATERIALIZED VIEW main.mv AS
        |SELECT g, SUM(x) FROM main.src GROUP BY g
        |WITH (rewrite = off)""".stripMargin).collect()
    finally spark.sql("SET CATALOG spark_catalog")
    def q() = spark.sql(s"SELECT g, sum(x) AS s FROM $cat.main.src GROUP BY g")
    withMode("fresh") {
      // per-view OFF overrides the armed session conf: no serve
      assert(aggCount(q()) == 1,
        s"per-view off must block serving:\n${q().queryExecution.optimizedPlan}")
      // flipping the option via set_option enables serving
      lake.setOption("mv.rewrite", "fresh", table = Some("main.mv"))
      assert(aggCount(q()) == 0,
        s"per-view fresh must serve:\n${q().queryExecution.optimizedPlan}")
      // per-view REFRESH under a fresh session: stale MV refreshes-on-read
      lake.setOption("mv.rewrite", "refresh", table = Some("main.mv"))
      lake.append("main.src", Seq(("a", 10L)).toDF("g", "x")) // stale now
      val df = q()
      assert(aggCount(df) == 0,
        s"per-view refresh must refresh-on-read:\n${df.queryExecution.optimizedPlan}")
      assert(rows2(df) == Set(("a", 11L), ("b", 2L)))
    }
    // the option tag rides freeze -> thaw like the definition tags
    lake.setOption("mv.rewrite", "off", table = Some("main.mv"))
    val frozen = Files.createTempDirectory("graft_pvfreeze").toString
    lake.freeze(frozen)
    val thawed = new Lake(spark,
      Files.createTempDirectory("graft_pvthaw").toString)
    thawed.importCatalog(s"$frozen/catalog_parquet")
    val tcat = s"mvrwpt${System.nanoTime()}"
    spark.conf.set(s"spark.sql.catalog.$tcat", classOf[LakeCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$tcat.root", thawed.root)
    withMode("fresh") {
      val df = spark.sql(s"SELECT g, sum(x) AS s FROM $tcat.main.src GROUP BY g")
      assert(aggCount(df) == 1,
        s"thawed per-view off must still block:\n${df.queryExecution.optimizedPlan}")
    }
  }

  test("count(NULL) never serves from n_rows (it is 0, not the row count)") {
    val (lake, cat) = mkLake("n")
    import spark.implicits._
    lake.createTableAs("main.src",
      Seq(("a", 1L), ("a", 2L), ("b", 3L)).toDF("g", "x"))
    lake.createMaterializedView("main.mv", "main.src",
      groupCols = Seq("g"), sumCols = Seq("x"))
    withMode("fresh") {
      // Spark 4.1's optimizer folds count(NULL) to literal 0 upstream of
      // this rule, so the rewrite sees no Count at all and serving the
      // group domain from the MV with `0 AS n` is exact. The rule's own
      // non-null-literal guard (VERDICT r16 #1) covers any plan where that
      // fold does NOT fire — either way n_rows must never back count(NULL).
      val df = spark.sql(
        s"SELECT g, count(NULL) AS n FROM $cat.main.src GROUP BY g")
      assert(df.collect().map(r => r.getString(0) -> r.getLong(1)).toMap ==
        Map("a" -> 0L, "b" -> 0L),
        s"count(NULL) must be 0 per group:\n${df.queryExecution.optimizedPlan}")
      val served = df.queryExecution.optimizedPlan.collect {
        case p: org.apache.spark.sql.catalyst.plans.logical.Project => p
      }.flatMap(_.projectList).collect {
        case a @ org.apache.spark.sql.catalyst.expressions.Alias(c, "n") => c
      }
      assert(served.forall(_.references.forall(_.name != "n_rows")),
        s"count(NULL) output must not bind n_rows:\n${df.queryExecution.optimizedPlan}")
      // rollup shape (global aggregate): same invariant
      val g = spark.sql(s"SELECT count(NULL) AS n FROM $cat.main.src")
      assert(g.collect().head.getLong(0) == 0L,
        s"global count(NULL) must be 0:\n${g.queryExecution.optimizedPlan}")
      // sanity: count(*) still serves on both shapes
      assert(aggCount(spark.sql(
        s"SELECT g, count(*) AS n FROM $cat.main.src GROUP BY g")) == 0)
      // global shape rolls up (an Aggregate over the MV remains): assert
      // the fact relation is gone rather than Aggregate-absence
      val c1 = spark.sql(s"SELECT count(1) AS n FROM $cat.main.src")
      assert(!scansCatalogTable(c1),
        s"count(1):\n${c1.queryExecution.optimizedPlan}")
    }
  }

  test("AS-OF reads are snapshot-consistent: historical MV state serves, gaps fall back") {
    val (lake, cat) = mkLake("e")
    import spark.implicits._
    lake.createTableAs("main.src", Seq(("a", 1L), ("b", 2L)).toDF("g", "x"))
    lake.createMaterializedView("main.mv", "main.src",
      groupCols = Seq("g"), sumCols = Seq("x"))
    val preSnap = lake.currentSnapshot() // MV watermark == preSnap here
    lake.append("main.src", Seq(("a", 10L)).toDF("g", "x"))
    val midSnap = lake.currentSnapshot() // source changed, MV not yet refreshed
    lake.refreshMaterializedView("main.mv")
    withMode("fresh") {
      // AS-OF the MV's own creation snapshot: the MV table AT that snapshot
      // is exactly the aggregate of the source AT that snapshot — serve it
      val asof = spark.sql(
        s"SELECT g, sum(x) AS s FROM $cat.main.src VERSION AS OF $preSnap GROUP BY g")
      assert(aggCount(asof) == 0,
        s"historical MV state should serve the AS-OF read:\n${asof.queryExecution.optimizedPlan}")
      assert(rows2(asof) == Set(("a", 1L), ("b", 2L)))
      // AS-OF the gap snapshot (source changed, watermark behind): fall back
      val gap = spark.sql(
        s"SELECT g, sum(x) AS s FROM $cat.main.src VERSION AS OF $midSnap GROUP BY g")
      assert(aggCount(gap) == 1,
        "AS-OF in the watermark gap must fall back (source changed in window)")
      assert(rows2(gap) == Set(("a", 11L), ("b", 2L)))
      // current read serves the refreshed state
      val cur = spark.sql(s"SELECT g, sum(x) AS s FROM $cat.main.src GROUP BY g")
      assert(aggCount(cur) == 0)
      assert(rows2(cur) == Set(("a", 11L), ("b", 2L)))
      // a different grouping set falls back
      val dg = spark.sql(
        s"SELECT g, x, count(*) AS n FROM $cat.main.src GROUP BY g, x")
      assert(aggCount(dg) == 1)
    }
  }
}
