package graft.lake

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic.ClassicConversions._

/** SQL sugar for the metadata TVF surface (SURVEY.md §4.3 "custom
  * commands"; reference sql/pg_ducklake--0.1.0.sql:282-465): session
  * extensions registering table functions that mirror the `ducklake.*`
  * TVFs. Enable with
  * `spark.sql.extensions=graft.lake.GraftExtensions`, then:
  *
  * {{{
  *   SELECT * FROM graft_snapshots('/lake/root')
  *   SELECT * FROM graft_table_info('/lake/root')
  *   SELECT * FROM graft_list_files('/lake/root', 'main.t')
  *   SELECT * FROM graft_options('/lake/root')
  *   SELECT * FROM graft_table_changes('/lake/root', 'main.t', 0, 5)
  * }}}
  *
  * Each builder evaluates its (literal) arguments at resolution time and
  * splices in the analyzed plan of the corresponding [[Lake]] DataFrame —
  * metadata TVFs produce driver-local relations; `graft_table_changes`
  * contributes a full distributed scan plan.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  private def lit(e: Expression, what: String): String = {
    require(e.foldable, s"$what must be a literal")
    String.valueOf(e.eval())
  }

  /** TVF root argument: `<root>` (file-log catalog) or `<root>;jdbc=<url>`
    * (shared-database catalog — the same `jdbc` option the DSv2 catalog
    * and stream source/sink take, in-band because TVF args are
    * positional strings). JDBC stores are cached per (root, url) so
    * repeated TVF calls share ONE live connection per catalog instead of
    * leaking one per invocation. */
  private def lakeArg(rootArg: String): Lake = {
    val sep = rootArg.indexOf(";jdbc=")
    if (sep < 0) new Lake(SparkSession.active, rootArg)
    else {
      val root = rootArg.substring(0, sep)
      val url = rootArg.substring(sep + ";jdbc=".length)
      new Lake(SparkSession.active, root,
        Some(GraftExtensions.tvfStores.computeIfAbsent((root, url),
          _ => new JdbcMetadataStore(root, url))))
    }
  }

  private def tvf(name: String, usage: String)(build: Seq[Expression] => LogicalPlan)
      : (FunctionIdentifier, ExpressionInfo, Seq[Expression] => LogicalPlan) =
    (FunctionIdentifier(name), new ExpressionInfo("graft.lake.GraftExtensions", name, usage),
      build)

  override def apply(ext: SparkSessionExtensions): Unit = {
    // SQL UPDATE/MERGE on lake tables → the native positional-delete DML
    ext.injectResolutionRule(new ResolveLakeUpdate(_))
    ext.injectResolutionRule(new ResolveLakeMerge(_))
    // SQL CREATE/DROP VIEW on lake catalogs → the versioned stored-view
    // tags (session-catalog views untouched), intercepted at the parse
    // boundary (ResolveSessionCatalog categorically rejects view DDL on
    // non-session catalogs, so a resolution rule never gets a chance);
    // CREATE/DROP MACRO is new grammar (reference/DuckDB dialect)
    ext.injectParser((session, delegate) => new GraftSqlParser(session, delegate))
    // SELECT from catalog-qualified stored views (Spark 4.1 ships the
    // ViewCatalog interface but no read rule)
    ext.injectResolutionRule(new ResolveLakeViewRead(_))
    // variant_get predicates → file pruning on recorded variant path stats
    ext.injectOptimizerRule(new LakeVariantPruning(_))
    // opt-in MV query rewrite: matching grouped aggregates served from the
    // maintained MV table instead of the fact scan (spark.graft.mv.rewrite)
    ext.injectOptimizerRule(new LakeMvRewrite(_))
    // driver-local evaluation of bounded constant subplans (Range /
    // Sort / Generate / Aggregate over LocalRelation) — constant-shaped
    // queries collapse to LocalTableScan and skip job submission entirely
    ext.injectOptimizerRule(new org.apache.spark.sql.graft.LocalFold(_))
    // Strip abandoned DPP markers from DSv2 scans: when a join under SPJ
    // plans as sort-merge, PlanDynamicPruningFilters has no broadcast to
    // reuse and leaves `DynamicPruningExpression(true)` in the scan's
    // runtime filters — BatchScanExec then walks the no-op predicate on
    // every scan build and logs a per-scan "Can't translate true" WARN.
    // Dropping the trivial filter is semantics-free (it prunes nothing).
    ext.injectColumnar(_ => StripTrivialRuntimeFilters)
    // codegen'd scalars for the vector hot paths (kNN / LSH / near-dup)
    ext.injectFunction((FunctionIdentifier("graft_vec_dot"),
      new ExpressionInfo("graft.functions.VecDotLong", "graft_vec_dot",
        "graft_vec_dot(a, b) - dot product of two ARRAY<BIGINT> vectors"),
      (children: Seq[Expression]) => {
        require(children.length == 2, "graft_vec_dot takes 2 arguments")
        graft.functions.VecDotLong(children.head, children(1))
      }))
    ext.injectFunction((FunctionIdentifier("graft_int8_code"),
      new ExpressionInfo("graft.functions.Int8Code", "graft_int8_code",
        "graft_int8_code(v) - per-vector symmetric int8 quantization codes"),
      (children: Seq[Expression]) => {
        require(children.length == 1, "graft_int8_code takes 1 argument")
        graft.functions.Int8Code(children.head)
      }))
    // bounded top-k AGGREGATE (k smallest by the struct's natural order,
    // ascending): quota/stratified sampling without a per-partition sort —
    // each map task keeps a k-heap per group, the exchange carries
    // O(tasks × groups × k) rows, and no WindowGroupLimit sort touches the
    // full table. Catalyst ships the heap aggregate (CollectTopK) for its
    // own ORDER BY ... LIMIT rewrites; this exposes it as a function.
    ext.injectFunction((FunctionIdentifier("graft_topk"),
      new ExpressionInfo(
        "org.apache.spark.sql.catalyst.expressions.aggregate.CollectTopK",
        "graft_topk",
        "graft_topk(e, k) - the k smallest values of e, ascending"),
      (children: Seq[Expression]) => {
        require(children.length == 2, "graft_topk takes 2 arguments")
        org.apache.spark.sql.catalyst.expressions.aggregate.GraftTopK
          .smallestK(children.head, children(1))
      }))
    // fused sessionization WINDOW function: session ordinal in ONE running
    // frame (lag + conditional running sum collapse into a single Window
    // operator — the second pass over every sorted partition disappears)
    ext.injectFunction((FunctionIdentifier("graft_session"),
      new ExpressionInfo(
        "org.apache.spark.sql.catalyst.expressions.GraftSessionId",
        "graft_session",
        "graft_session(tsSeconds, gapSeconds) - 1-based session ordinal " +
          "within the window partition; a gap strictly greater than " +
          "gapSeconds opens a new session"),
      (children: Seq[Expression]) => {
        require(children.length == 2, "graft_session takes 2 arguments")
        org.apache.spark.sql.catalyst.expressions.GraftSessionId(
          children.head, children(1))
      }))
    ext.injectFunction((FunctionIdentifier("graft_minhash16"),
      new ExpressionInfo("graft.functions.MinHash16", "graft_minhash16",
        "graft_minhash16(shingles) - 16-permutation md5 MinHash signature"),
      (children: Seq[Expression]) => {
        require(children.length == 1, "graft_minhash16 takes 1 argument")
        graft.functions.MinHash16(children.head)
      }))
    ext.injectFunction((FunctionIdentifier("graft_ngrams"),
      new ExpressionInfo("graft.functions.Ngrams", "graft_ngrams",
        "graft_ngrams(tokens, n[, dedup]) - space-joined word n-grams"),
      (children: Seq[Expression]) => {
        require(children.length == 2 || children.length == 3,
          "graft_ngrams takes (tokens, n) or (tokens, n, dedup)")
        def lit[T](e: Expression, what: String): T = e match {
          case Literal(v, _) if v != null => v.asInstanceOf[T]
          case other => throw new IllegalArgumentException(
            s"graft_ngrams $what must be a literal, got ${other.sql}")
        }
        graft.functions.Ngrams(children.head,
          lit[Int](children(1), "window n"),
          if (children.length == 3) lit[Boolean](children(2), "dedup")
          else false)
      }))
    ext.injectFunction((FunctionIdentifier("graft_lsh_bits"),
      new ExpressionInfo("graft.functions.LshBits", "graft_lsh_bits",
        "graft_lsh_bits(q, planes) - sign bits of sparse hyperplane projections"),
      (children: Seq[Expression]) => {
        require(children.length == 2, "graft_lsh_bits takes 2 arguments")
        graft.functions.LshBits(children.head, children(1))
      }))
    // bucket-cap gate with accumulator-backed drop counters (AQE-safe
    // observability — see graft.functions.CapMetrics): the metric NAME is a
    // literal resolved at plan time on the driver, where the accumulator
    // pair is registered and captured into the expression instance.
    ext.injectFunction((FunctionIdentifier("graft_cap_gate"),
      new ExpressionInfo("graft.functions.BucketCapGate", "graft_cap_gate",
        "graft_cap_gate(size, cap, name) - true iff size <= cap; counts " +
          "capped buckets/dropped members into named accumulators"),
      (children: Seq[Expression]) => {
        require(children.length == 3, "graft_cap_gate takes 3 arguments")
        val cap = lit(children(1), "cap").toInt
        val name = lit(children(2), "metric name")
        val (c, d) = graft.functions.CapMetrics.forName(SparkSession.active, name)
        graft.functions.BucketCapGate(children.head, cap, c, d)
      }))
    ext.injectTableFunction(tvf("graft_snapshots", "graft_snapshots(root)") { args =>
      lakeArg(lit(args.head, "root")).snapshots()
        .queryExecution.analyzed
    })
    ext.injectTableFunction(tvf("graft_table_info", "graft_table_info(root)") { args =>
      lakeArg(lit(args.head, "root")).tableInfo()
        .queryExecution.analyzed
    })
    ext.injectTableFunction(tvf("graft_list_files", "graft_list_files(root, table)") { args =>
      lakeArg(lit(args.head, "root"))
        .listFiles(lit(args(1), "table")).queryExecution.analyzed
    })
    ext.injectTableFunction(tvf("graft_last_committed_snapshot",
      "graft_last_committed_snapshot(root)") { args =>
      lakeArg(lit(args.head, "root")).lastCommittedSnapshot()
        .queryExecution.analyzed
    })
    ext.injectTableFunction(tvf("graft_get_partition", "graft_get_partition(root, table)") { args =>
      lakeArg(lit(args.head, "root"))
        .getPartition(lit(args(1), "table")).queryExecution.analyzed
    })
    ext.injectTableFunction(tvf("graft_get_sort", "graft_get_sort(root, table)") { args =>
      lakeArg(lit(args.head, "root"))
        .getSort(lit(args(1), "table")).queryExecution.analyzed
    })
    ext.injectTableFunction(tvf("graft_options", "graft_options(root)") { args =>
      lakeArg(lit(args.head, "root")).options()
        .queryExecution.analyzed
    })
    ext.injectTableFunction(tvf("graft_table_changes",
      "graft_table_changes(root, table, startExclusive, endInclusive)") { args =>
      lakeArg(lit(args.head, "root"))
        .tableChanges(lit(args(1), "table"), lit(args(2), "s0").toLong,
          lit(args(3), "s1").toLong)
        .queryExecution.analyzed
    })
    // stored catalog views execute straight from SQL (optional third arg =
    // AS-OF snapshot id OR timestamp string: both the definition and the
    // data resolve there — the reference's dual time_travel overloads,
    // src/pgducklake_time_travel.cpp:36-73, mirrored on the view TVF)
    ext.injectTableFunction(tvf("graft_view", "graft_view(root, name[, version | ts])") { args =>
      require(args.length == 2 || args.length == 3,
        "graft_view takes (root, name) or (root, name, version|timestamp)")
      val lake = lakeArg(lit(args.head, "root"))
      val asOf: Option[Long] =
        if (args.length < 3) None
        else {
          val raw = lit(args(2), "version")
          scala.util.Try(raw.toLong).toOption.orElse {
            // timestamp string (session timezone, like TIMESTAMP AS OF) →
            // the snapshot current at that instant
            val zone = java.time.ZoneId.of(
              SparkSession.active.sessionState.conf.sessionLocalTimeZone)
            val ldt = scala.util.Try(
                java.time.LocalDateTime.parse(raw.trim.replace(' ', 'T')))
              .getOrElse(java.time.LocalDate.parse(raw.trim).atStartOfDay)
            val ms = ldt.atZone(zone).toInstant.toEpochMilli
            Some(lake.store.state().snapshotAtTime(ms).getOrElse(
              throw new NoSuchElementException(
                s"no snapshot exists at or before '$raw'")))
          }
        }
      lake.view(lit(args(1), "view name"), asOf).queryExecution.analyzed
    })
    ext.injectTableFunction(tvf("graft_views", "graft_views(root)") { args =>
      lakeArg(lit(args.head, "root")).views()
        .queryExecution.analyzed
    })
    ext.injectTableFunction(tvf("graft_macros", "graft_macros(root)") { args =>
      lakeArg(lit(args.head, "root")).macros()
        .queryExecution.analyzed
    })
    // instance metadata (upstream ducklake_settings())
    ext.injectTableFunction(tvf("graft_settings", "graft_settings(root)") { args =>
      lakeArg(lit(args.head, "root")).settings()
        .queryExecution.analyzed
    })
  }
}

object GraftExtensions {
  /** one live JDBC store per (root, url) for the TVF surface — bounded by
    * distinct catalogs, lives for the JVM (TVFs have no close hook) */
  private[lake] val tvfStores =
    new java.util.concurrent.ConcurrentHashMap[(String, String), JdbcMetadataStore]()
}

/** Removes `DynamicPruningExpression(true)` — the marker
  * PlanDynamicPruningFilters / PlanAdaptiveDynamicPruningFilters leaves on
  * a DSv2 scan when DPP is abandoned (no broadcast exchange to reuse,
  * reuseBroadcastOnly default) — from `BatchScanExec.runtimeFilters`. The
  * trivial predicate can never prune; keeping it costs a per-scan-build
  * translation walk and a "Can't translate true to source filter" WARN.
  * Runs as a post-columnar physical rule: under AQE that is after
  * queryStageOptimizerRules (where the marker is substituted), and in
  * non-AQE preparations after PlanDynamicPruningFilters. */
object StripTrivialRuntimeFilters extends org.apache.spark.sql.execution.ColumnarRule {
  import org.apache.spark.sql.catalyst.expressions.DynamicPruningExpression
  import org.apache.spark.sql.execution.SparkPlan
  import org.apache.spark.sql.execution.datasources.v2.BatchScanExec

  private def trivial(e: Expression): Boolean = e match {
    case DynamicPruningExpression(Literal(true, _)) => true
    case Literal(true, _) => true
    case _ => false
  }

  override def postColumnarTransitions: org.apache.spark.sql.catalyst.rules.Rule[SparkPlan] =
    new org.apache.spark.sql.catalyst.rules.Rule[SparkPlan] {
      override def apply(plan: SparkPlan): SparkPlan = plan.transformUp {
        case b: BatchScanExec if b.runtimeFilters.exists(trivial) =>
          b.copy(runtimeFilters = b.runtimeFilters.filterNot(trivial))
      }
    }
}
