package graft.forex

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Advanced technical indicators over candle series — the indicator families
  * the reference's gold model (fct_eurusd_timeframes.sql:73-83) stops short
  * of (it ships price_diff + 2 SMAs; real chart pipelines add bands,
  * momentum, and EMA crossovers on the same candle stream).
  *
  * Cross-engine determinism is the design driver, exactly as in
  * [[Indicators]] and the ewma_1h query:
  *
  *  - Window-frame float sums are association-dependent between engines, so
  *    every frame statistic here is a SEQUENTIAL LEFT FOLD over the frame's
  *    ordered prefix list (`collect_list` over a ROWS frame → `aggregate`
  *    with `slice`/`[0]` seed), which is exactly DuckDB's
  *    `list_reduce(list(...) OVER frame, λ)` association — both engines
  *    produce bit-identical doubles, then round via Parity.pround.
  *  - Recursive indicators (EMA, Wilder smoothing) cannot be expressed by
  *    any window frame (frames see values, not prior results); the prefix
  *    fold IS the recurrence.
  *
  * Cost: O(frame²) per row for bounded frames (Bollinger: 20² per candle),
  * O(n²) per series for the unbounded recursions (RSI/MACD) — acceptable
  * because input is candle-level (720 rows/month at 1h), the same documented
  * ceiling as Indicators' windows. The 100 TB path for long series is the
  * chunk-parallel family below (EMA is a linear recurrence, associative in
  * affine (mul, add) form): per-chunk folds in parallel, carries composed by
  * the grid-hierarchical [[graft.relational.MonoidScan]] whose window tasks
  * are bounded at 64 rows at any history length.
  */
object TechIndicators {

  /** Series-key windows: empty keyCols = the single-series global order
    * (documented candle-level ceiling); the multi-symbol pipeline passes
    * `symbol`, making every recursive indicator data-parallel per symbol —
    * the same keying as Indicators.w (VERDICT r4 item #1).
    */
  private def w(keyCols: Seq[String] = Nil) =
    Window.partitionBy(keyCols.map(col): _*).orderBy(col("candle_start"))
  private def prefix(keyCols: Seq[String] = Nil) =
    w(keyCols).rowsBetween(Window.unboundedPreceding, Window.currentRow)

  /** Sequential left fold over an array COLUMN (referenced by name) matching
    * DuckDB `list_reduce`: seed = first element, fold elements 2..n. The
    * lambda must be written with the same literal arithmetic as the oracle's.
    */
  private def foldCol(name: String, lambda: String): Column =
    expr(s"aggregate(slice($name, 2, size($name) - 1), $name[0], $lambda)")

  // ------------------------------------------------------------- Bollinger

  /** Bollinger bands over an n-candle ROWS frame: mid = frame mean, bands =
    * mid ± k·σ (population σ). Mean and σ are two sequential folds over the
    * same frame list, so both are bit-deterministic cross-engine. Partial
    * frames at the series start use the available rows (mirrors
    * Indicators.sma's partial-frame semantics).
    */
  def bollinger(candles: DataFrame, n: Int = 20, k: Double = 2.0,
      keyCols: Seq[String] = Nil): DataFrame =
    bandsFromFrame(
      candles.withColumn("px", collect_list(col("close_price"))
        .over(w(keyCols).rowsBetween(-(n - 1), Window.currentRow))), k, keyCols)

  /** Band math over a prepared `px` frame-list column (time-ordered, last
    * ≤n closes). Shared by the global-window and chunk-parallel forms —
    * identical frame lists fold to bit-identical doubles, which is what
    * lets [[bollingerChunked]] share bollinger's oracle.
    */
  private def bandsFromFrame(withPx: DataFrame, k: Double,
      keyCols: Seq[String] = Nil): DataFrame =
    withPx
      .withColumn("bb_mid",
        foldCol("px", "(acc, x) -> acc + x") / size(col("px")).cast("double"))
      .withColumn("sq", expr("transform(px, x -> (x - bb_mid) * (x - bb_mid))"))
      .withColumn("bb_sd",
        sqrt(foldCol("sq", "(acc, x) -> acc + x") / size(col("px")).cast("double")))
      .select(keyCols.map(col) ++ Seq(col("candle_start"), col("close_price"),
        graft.Parity.pround(col("bb_mid"), 6).as("bb_mid"),
        graft.Parity.pround(col("bb_mid") + lit(k) * col("bb_sd"), 6).as("bb_upper"),
        graft.Parity.pround(col("bb_mid") - lit(k) * col("bb_sd"), 6).as("bb_lower")): _*)

  /** Chunk-parallel Bollinger (VERDICT r4 nit #2): the 20-row frame is
    * assembled per chunk from a bounded ≤(n−1)-row carry-in — the
    * IndicatorsChunked carry pattern, fully declarative. Per chunk, IN
    * PARALLEL: the within-chunk frame list (a partitioned ROWS window);
    * per-chunk tails (last ≤n−1 closes) aggregate to a |chunks|-row
    * relation whose ordered window composes carries (chunk-level, bounded
    * — same shape as affineScan's incoming fold); each row's frame = last
    * ≤n of carry ++ within-chunk list. Frame CONTENTS equal the global
    * window's frame exactly, so the folds are bit-identical and the query
    * shares bollinger_1h's oracle — the physical strategy must not change
    * a bit.
    */
  def bollingerChunked(candles: DataFrame, n: Int = 20, k: Double = 2.0,
      candlesPerChunk: Int = 64, gridUs: Long = 3600000000L): DataFrame = {
    val m = n - 1
    val c = candles.withColumn("__ck",
      expr(s"unix_micros(candle_start) DIV ${gridUs * candlesPerChunk}L"))
    val wIn = Window.partitionBy(col("__ck")).orderBy(col("candle_start"))
      .rowsBetween(-m, Window.currentRow)
    val tails = c.groupBy(col("__ck"))
      .agg(expr(s"reverse(slice(reverse(array_sort(collect_list(struct(candle_start, close_price)))), 1, $m))")
        .as("tail"))
    // frame bounded at m preceding chunk rows: every row in `tails` is a
    // non-empty chunk (groupBy emits only chunks that hold candles), so m
    // preceding tails always cover ≥m candles and the post-flatten last-m
    // slice is content-identical to the unbounded-preceding accumulation —
    // O(m·|chunks|) through the chunk-level window instead of O(|chunks|²)
    // (VERDICT r12 finding #1a)
    val wPrev = Window.orderBy(col("__ck"))
      .rowsBetween(-m, -1)
    val carries = tails
      .withColumn("__tails", collect_list(col("tail")).over(wPrev))
      .withColumn("carry", expr(
        s"transform(reverse(slice(reverse(array_sort(flatten(__tails))), 1, $m)), t -> t.close_price)"))
      .select(col("__ck"), col("carry"))
    val framed = c.join(broadcast(carries), "__ck")
      .withColumn("__in", collect_list(col("close_price")).over(wIn))
      .withColumn("__full", concat(col("carry"), col("__in")))
      .withColumn("px", expr(s"slice(__full, greatest(size(__full) - $m, 1), $n)"))
    bandsFromFrame(framed, k)
  }

  // ------------------------------------------------------------------ RSI

  /** Relative Strength Index with Wilder smoothing, seeded at the first
    * gain/loss (documented seeding choice; the classic SMA-of-first-n seed
    * converges to the same recurrence after n steps). Rows before the first
    * price change have no diff and are excluded (RSI is undefined there).
    *
    * avg_t = (avg_{t-1} · (n−1) + x_t) / n — the fold lambda is written with
    * the identical literal arithmetic in the DuckDB oracle.
    */
  def rsi(candles: DataFrame, n: Int = 14, keyCols: Seq[String] = Nil): DataFrame = {
    val lam = s"(acc, x) -> (acc * ${n - 1}.0 + x) / $n.0"
    candles
      .withColumn("diff", col("close_price") - lag(col("close_price"), 1).over(w(keyCols)))
      .filter(col("diff").isNotNull)
      // 0.0 - diff, not unary minus: greatest(-0.0, 0.0) is engine-dependent
      // in which zero it returns; 0.0 - (+0.0) is +0.0 everywhere
      .withColumn("gain", greatest(col("diff"), lit(0.0)))
      .withColumn("loss", greatest(lit(0.0) - col("diff"), lit(0.0)))
      .withColumn("gl", collect_list(col("gain")).over(prefix(keyCols)))
      .withColumn("ll", collect_list(col("loss")).over(prefix(keyCols)))
      .withColumn("avg_gain", foldCol("gl", lam))
      .withColumn("avg_loss", foldCol("ll", lam))
      .select(keyCols.map(col) ++ Seq(col("candle_start"), col("close_price"),
        graft.Parity.pround(
          when(col("avg_loss") === lit(0.0), lit(100.0))
            .otherwise(lit(100.0) -
              lit(100.0) / (lit(1.0) + col("avg_gain") / col("avg_loss"))),
          6).as(s"rsi_$n")): _*)
  }

  // ----------------------------------------------------------------- EWMA

  /** EWMA of close (ewma_t = 0.2·x_t + 0.8·ewma_{t−1}, seeded at the first
    * close) — a RECURSIVE indicator no window frame can express: frames
    * compute over values, not over prior RESULTS. Realized as the prefix
    * fold: `collect_list` over a ROWS UNBOUNDED PRECEDING window gives each
    * row its ordered prefix, and `aggregate` folds it left with exactly
    * DuckDB list_reduce's association, so the recurrence reproduces
    * bit-for-bit. O(n²) per series, the candle-level ceiling documented
    * above; [[ewmaChunked]] is the scale-out form. With a key, the fold
    * window partitions by it: each series' fold is the same sequential
    * association, so a keyed slice equals that series' own run.
    */
  def ewma(candles: DataFrame, keyCols: Seq[String] = Nil): DataFrame =
    candles
      .withColumn("px", collect_list(col("close_price")).over(prefix(keyCols)))
      .select(keyCols.map(col) ++ Seq(col("candle_start"), col("close_price"),
        graft.Parity.pround(foldCol("px", "(acc, x) -> 0.2 * x + 0.8 * acc"), 6)
          .as("ewma")): _*)

  // ------------------------------------------------------------- gap fill

  /** Calendar densification + forward fill of a 1h close series: each
    * series gets its own dense hourly grid over its [min, max] (one
    * `sequence` row per series, never a cross join), joined back to the
    * closes, with close_price forward-filled by `last(_, ignoreNulls)` over
    * the time order. `is_filled` marks synthesized rows. The fill window
    * partitions by the key, so every series is repaired on its own.
    */
  def gapFill(closes: DataFrame, keyCols: Seq[String] = Nil): DataFrame = {
    val grid = closes
      .groupBy(keyCols.map(col): _*)
      .agg(min(col("candle_start")).as("lo"), max(col("candle_start")).as("hi"))
      .select(keyCols.map(col) :+
        explode(expr("sequence(lo, hi, interval 1 hour)")).as("candle_start"): _*)
    grid.join(closes, keyCols :+ "candle_start", "left")
      .withColumn("close_filled",
        last(col("close_price"), ignoreNulls = true).over(prefix(keyCols)))
      .select(keyCols.map(col) ++ Seq(col("candle_start"), col("close_filled"),
        col("close_price").isNull.cast("long").as("is_filled")): _*)
  }

  // --------------------------------------------------- chunk-parallel EWMA

  /** EWMA as a PARALLEL PREFIX SCAN — the 100 TB path for linear
    * recurrences that [[ewma]]'s scaladoc names. ewma_t =
    * (1−α)·ewma_{t−1} + α·x_t is the affine map s ↦ a·s + b_t (a = 1−α,
    * b_t = α·x_t), and affine maps compose associatively:
    * (A₂,B₂)∘(A₁,B₁) = (A₂A₁, A₂B₁+B₂). So:
    *
    *  1. split the series into time-contiguous chunks (integer-DIV on the
    *     candle grid — same chunking as IndicatorsChunked);
    *  2. per chunk, IN PARALLEL: fold each row's prefix to its local
    *     (A_j, B_j) — row value given any incoming state s is A_j·s + B_j;
    *  3. compose the per-chunk totals in chunk order via the grid-
    *     hierarchical [[graft.relational.MonoidScan]], seeded with the
    *     series' first close — each chunk's incoming state S_c, with every
    *     window task bounded at 64 rows regardless of history length
    *     (≤64 chunks take the scan's base case — the flat seeded fold,
    *     bit-identical to the original association, which the chunk-form
    *     oracles pin);
    *  4. finish per row: ewma = A_j·S_c + B_j.
    *
    * Parallelism is #chunks; no single task ever sees the whole series —
    * unlike the plain prefix-fold, whose unpartitioned window is a single
    * sorted task. The reassociation computes DIFFERENT double roundings
    * than the sequential fold (|Δ| ~ ulps, spec-bounded), so this operator
    * carries its OWN DuckDB oracle in exactly the same chunked form —
    * hash-exact cross-engine — rather than sharing ewma_1h's.
    *
    * Cost note: step 2 is a per-row prefix fold (O(chunk²) per chunk) to
    * stay fully declarative/oracle-checkable; a mapPartitions running
    * state would be O(chunk) at the price of leaving SQL. Struct literals
    * are CAST to DOUBLE on the oracle side — DuckDB types bare 0.8 as
    * DECIMAL and decimal arithmetic diverges from Spark's.
    */
  /** One affine recurrence to scan: s_j = a·s_{j−1} + b·x_j over `valueCol`,
    * result appended as `outCol`. a + b = 1 is required so the uniform
    * pre-series state s₀ = x_first reproduces the seed s₁ = x₁.
    */
  private[forex] final case class ScanSpec(
      valueCol: String, outCol: String, a: Double, b: Double)

  /** Generic chunk-parallel scan of s_j = a·s_{j−1} + b·x_j over the column
    * `valueCol` (time-keyed by `candle_start`), seeded s₁ = x₁. Appends
    * `outCol` with the scan value; every arithmetic form is mirrored
    * literally by the oracle builder (IndicatorQueries.affineScanSql), with
    * a and b pre-folded to single double literals (Spark and DuckDB disagree
    * on decimal-literal arithmetic). Single-spec face of [[affineScanN]].
    */
  private[forex] def affineScan(df: DataFrame, valueCol: String, outCol: String,
      a: Double, b: Double, candlesPerChunk: Int, gridUs: Long,
      keyCols: Seq[String] = Nil,
      maxChunksHint: Option[Long] = None): DataFrame =
    affineScanN(df, Seq(ScanSpec(valueCol, outCol, a, b)),
      candlesPerChunk, gridUs, keyCols, maxChunksHint)

  /** N affine scans over the SAME chunk grid in ONE physical pass: one
    * per-chunk prefix window, one chunk-totals aggregation, one chunk-level
    * composition window, one join back — instead of N of each when single
    * scans compose (each nesting re-sorts and re-shuffles the whole plan;
    * measured 2.8 s → 1.5 s on rsi_chunked at sf0.1). The N recurrences fold
    * SIDE BY SIDE in one struct: each field's operation sequence — per-row
    * pair build, left-fold composition, seed, incoming-state fold, finish —
    * is exactly the single-scan sequence over that field alone, so outputs
    * are bit-identical to composed [[affineScan]] calls and the existing
    * chunk-association oracles apply unchanged. Usable whenever the scans'
    * INPUT columns all pre-exist (rsi: gain & loss; macd: fast & slow EMA of
    * close); a scan OVER a prior scan's output (macd signal) still composes.
    */
  /** The shared carried-state chunk-scan scaffold: grid chunk key →
    * per-chunk inclusive prefix fold of monoid elements (in parallel per
    * chunk) → per-chunk totals → [[graft.relational.MonoidScan]] for each
    * chunk's seeded incoming state → join back. Callers supply the monoid
    * (element builder over the collected input struct, composition, and
    * the seeded application step) plus the per-series seed relation, and
    * read back `<p>_ab` (the row's composed in-chunk prefix) and
    * `<p>_sin` (the chunk's incoming state) to finish. One copy of the
    * carry-scan discipline for every carried-state indicator —
    * [[affineScanN]] instantiates it with the scalar affine monoid,
    * [[holtChunked]] with the 2×2 matrix-affine one.
    */
  private def chunkScan(df: DataFrame, valueCols: Seq[String],
      elemLambda: String, composeLambda: String, seededLambda: String,
      seeds: DataFrame, candlesPerChunk: Int, gridUs: Long,
      keyCols: Seq[String], p: String,
      maxChunksHint: Option[Long] = None): DataFrame = {
    val w = gridUs * candlesPerChunk
    val ck = s"${p}_chunk"
    val px = s"${p}_px"
    val fs = s"${p}_fs"
    val ab = s"${p}_ab"
    val c = df.withColumn(ck, expr(s"unix_micros(candle_start) DIV ${w}L"))
    val wPre = Window.partitionBy((keyCols :+ ck).map(col): _*)
      .orderBy(col("candle_start"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val withAb = c
      .withColumn(px, collect_list(struct(valueCols.map(col): _*)).over(wPre))
      .withColumn(fs, expr(s"transform($px, $elemLambda)"))
      .withColumn(ab, expr(
        s"aggregate(slice($fs, 2, size($fs) - 1), $fs[0], $composeLambda)"))
    // chunk-level composition: the seeded exclusive scan over per-chunk
    // totals, distributed via the grid-hierarchical MonoidScan — every
    // window task sees ≤64 chunk rows (VERDICT r12 finding #1b; the old
    // collect-the-full-prefix form was O(|chunks|²) in one task). At ≤64
    // chunks per series (true of the sf0.01/sf0.1 candle grids) the scan
    // IS the original flat seeded fold, bit-identical, so the chunk-form
    // oracles (IndicatorQueries.affineScanSql and the holt recursive
    // mirror) stay exact; beyond that the association is the documented
    // fanout-64 hierarchy.
    val totals = withAb
      .groupBy((keyCols :+ ck).map(col): _*)
      .agg(max_by(col(ab), col("candle_start")).as(s"${p}_tot"))
    val incoming = graft.relational.MonoidScan.scanIncoming(
      totals, keyCols, ck, s"${p}_tot", seeds, "__seed0",
      seededLambda, composeLambda, fanout = 64, outName = s"${p}_sin",
      maxPerKeyHint = maxChunksHint)
    withAb.join(incoming, keyCols :+ ck)
  }

  private[forex] def affineScanN(df: DataFrame, specs: Seq[ScanSpec],
      candlesPerChunk: Int, gridUs: Long,
      keyCols: Seq[String] = Nil,
      maxChunksHint: Option[Long] = None): DataFrame = {
    require(specs.nonEmpty)
    specs.foreach(sp =>
      require(math.abs(sp.a + sp.b - 1.0) < 1e-15, "seeding needs a + b = 1"))
    val p = specs.head.outCol
    val ck = s"${p}_chunk"
    val px = s"${p}_px"
    val fs = s"${p}_fs"
    val ab = s"${p}_ab"
    // one list of input structs per row; duplicate inputs (macd: fast and
    // slow both scan close_price) are collected once
    val valueCols = specs.map(_.valueCol).distinct
    def perSpec(f: ScanSpec => String): String =
      specs.map(sp => s"'${sp.outCol}', ${f(sp)}").mkString(", ")
    val elem = "x -> named_struct(" +
      perSpec(sp => s"named_struct('a', ${sp.a}D, 'b', ${sp.b}D * x.${sp.valueCol})") + ")"
    val composeStep = "(acc, f) -> named_struct(" +
      perSpec(sp => s"named_struct('a', f.${sp.outCol}.a * acc.${sp.outCol}.a, " +
        s"'b', f.${sp.outCol}.a * acc.${sp.outCol}.b + f.${sp.outCol}.b)") + ")"
    val seededStep = "(acc, f) -> named_struct(" +
      perSpec(sp => s"named_struct('a', 1.0D, " +
        s"'b', f.${sp.outCol}.a * acc.${sp.outCol}.b + f.${sp.outCol}.b)") + ")"
    // per-series seeds: one row (global) or one per key — broadcast either way
    val firstAggs = specs.map(sp =>
      min_by(col(sp.valueCol), col("candle_start")).as(s"${sp.outCol}_first"))
    val first = df.groupBy(keyCols.map(col): _*).agg(firstAggs.head, firstAggs.tail: _*)
    val seeds = first.select(keyCols.map(col) :+ expr(
      s"named_struct(" +
        perSpec(sp => s"named_struct('a', 1.0D, 'b', ${sp.outCol}_first)") +
        ")").as("__seed0"): _*)
    val scanned = chunkScan(df, valueCols, elem, composeStep, seededStep,
      seeds, candlesPerChunk, gridUs, keyCols, p, maxChunksHint)
    specs.foldLeft(scanned) { (acc, sp) =>
      acc.withColumn(sp.outCol,
        expr(s"$ab.${sp.outCol}.a * ${p}_sin.${sp.outCol}.b + $ab.${sp.outCol}.b"))
    }.drop(ck, px, fs, ab, s"${p}_sin")
  }

  def ewmaChunked(candles: DataFrame, alpha: Double = 0.2,
      candlesPerChunk: Int = 64, gridUs: Long = 3600000000L,
      keyCols: Seq[String] = Nil,
      maxChunksHint: Option[Long] = None): DataFrame = {
    require(alpha == 0.2, "lambda literals are written for alpha = 0.2")
    affineScan(candles, "close_price", "ewma_raw",
        a = 0.8, b = 0.2, candlesPerChunk, gridUs, keyCols, maxChunksHint)
      .select(keyCols.map(col) ++ Seq(col("candle_start"), col("close_price"),
        graft.Parity.pround(col("ewma_raw"), 6).as("ewma")): _*)
  }

  /** Chunk-parallel price diff: close − previous close with NO row-level
    * unpartitioned window (VERDICT r4 nit #1). The lag is computed inside
    * each time-contiguous chunk, and the first row of every chunk is
    * patched from a carried boundary — the previous chunk's last close,
    * taken off a per-chunk aggregate relation (|chunks| rows; its ordered
    * window is chunk-level composition, same bounded shape as affineScan's
    * incoming-state fold, never row data). The series' first row keeps a
    * NULL diff, exactly like the global lag.
    */
  private[forex] def diffChunked(candles: DataFrame,
      candlesPerChunk: Int, gridUs: Long): DataFrame = {
    val ckExpr = expr(s"unix_micros(candle_start) DIV ${gridUs * candlesPerChunk}L")
    val c = candles.withColumn("__ck", ckExpr)
    val wc = Window.partitionBy(col("__ck")).orderBy(col("candle_start"))
    val bounds = c.groupBy(col("__ck"))
      .agg(max_by(col("close_price"), col("candle_start")).as("__last_close"))
    val prevB = bounds
      .withColumn("__prev_close",
        lag(col("__last_close"), 1).over(Window.orderBy(col("__ck"))))
      .select(col("__ck"), col("__prev_close"))
    c.join(broadcast(prevB), "__ck")
      .withColumn("diff", col("close_price") -
        coalesce(lag(col("close_price"), 1).over(wc), col("__prev_close")))
      .drop("__ck", "__prev_close")
  }

  /** RSI with Wilder smoothing via TWO chunk-parallel affine scans (gain
    * and loss; a = (n−1)/n, b = 1/n, a + b = 1 exactly in doubles for
    * n = 14) — the scale-out form of [[rsi]], seeded identically (first
    * gain/loss), so it matches `rsi` up to scan reassociation (spec-
    * bounded); its oracle is written in the same chunked association.
    * The diff step is [[diffChunked]], so no stage in this path sorts the
    * whole series in one task.
    */
  /** `maxChunksHint` note: the hint relation is the CANDLES grid, while the
    * scan runs over the diffed rows (first series row dropped) — a subset,
    * so candles-count ≤ fanout implies diffed-count ≤ fanout and the
    * base-case decision is identical to the exact count's.
    */
  def rsiChunked(candles: DataFrame, n: Int = 14,
      candlesPerChunk: Int = 64, gridUs: Long = 3600000000L,
      maxChunksHint: Option[Long] = None): DataFrame = {
    require(n == 14, "lambda literals are written for n = 14")
    val diffed = diffChunked(candles, candlesPerChunk, gridUs)
      .filter(col("diff").isNotNull)
      .withColumn("gain", greatest(col("diff"), lit(0.0)))
      .withColumn("loss", greatest(lit(0.0) - col("diff"), lit(0.0)))
    val a = 13.0 / 14.0
    val b = 1.0 / 14.0
    // gain and loss scan side by side in one pass (same chunk grid, one
    // window/aggregate/join instead of two) — bit-identical to two composed
    // scans, see affineScanN
    val scanned = affineScanN(diffed,
      Seq(ScanSpec("gain", "avg_gain", a, b), ScanSpec("loss", "avg_loss", a, b)),
      candlesPerChunk, gridUs, maxChunksHint = maxChunksHint)
    scanned.select(col("candle_start"), col("close_price"),
      graft.Parity.pround(
        when(col("avg_loss") === lit(0.0), lit(100.0))
          .otherwise(lit(100.0) -
            lit(100.0) / (lit(1.0) + col("avg_gain") / col("avg_loss"))),
        6).as(s"rsi_$n"))
  }

  /** MACD via THREE composed chunk-parallel scans — the scale-out form of
    * [[macd]]: two EMA scans of close (a = 1−2/(n+1), b = 2/(n+1); a+b = 1
    * exactly in doubles for n ∈ {12, 26}), macd = their difference, then a
    * third scan of the macd column for the signal line (a second-order
    * recurrence scanned over first-order scan output). Oracle in the same
    * chunked association.
    */
  /** `maxChunksHint` is exact for BOTH passes: the signal scan's input is
    * the EMA scans' output, which holds exactly the candle rows (the
    * within-chunk window and the incoming-state join are 1:1), so the two
    * relations' chunk grids are identical.
    */
  def macdChunked(candles: DataFrame,
      candlesPerChunk: Int = 64, gridUs: Long = 3600000000L,
      maxChunksHint: Option[Long] = None): DataFrame = {
    // a as the ratio (n−1)/(n+1), NOT 1 − 2/(n+1): the oracle emits the
    // exact-integer-ratio CAST form (ADVICE r4), and both engines must
    // perform the identical single IEEE division.
    def ab(n: Int) = ((n - 1).toDouble / (n + 1), 2.0 / (n + 1))
    val (af, bf) = ab(12)
    val (as_, bs) = ab(26)
    val (ag, bg) = ab(9)
    // fast and slow EMA scan side by side in one pass; the signal scan runs
    // OVER their difference, a genuine second-order composition, so it stays
    // a separate pass
    val scans = affineScanN(candles,
      Seq(ScanSpec("close_price", "ema_fast", af, bf),
        ScanSpec("close_price", "ema_slow", as_, bs)),
      candlesPerChunk, gridUs, maxChunksHint = maxChunksHint)
      .withColumn("macd_raw", col("ema_fast") - col("ema_slow"))
    affineScan(scans, "macd_raw", "sig", ag, bg, candlesPerChunk, gridUs,
        maxChunksHint = maxChunksHint)
      .select(col("candle_start"), col("close_price"),
        graft.Parity.pround(col("macd_raw"), 6).as("macd"),
        graft.Parity.pround(col("sig"), 6).as("macd_signal"),
        graft.Parity.pround(col("macd_raw") - col("sig"), 6).as("macd_hist"))
  }

  // ----------------------------------------------------------------- MACD

  /** MACD(12, 26, 9): EMA12 − EMA26 of close, signal = EMA9 of the MACD
    * line, histogram = MACD − signal. EMAs seed at the series' first value
    * with α = 2/(n+1). The signal line is a second-order recurrence — a fold
    * over per-row results of two prior folds — realized as a prefix list
    * over the computed macd column.
    */
  def macd(candles: DataFrame,
      fast: Int = 12, slow: Int = 26, sig: Int = 9,
      keyCols: Seq[String] = Nil): DataFrame = {
    // α embedded as a pre-divided double literal (D suffix): Spark SQL
    // parses `2.0 / 13.0` as DECIMAL÷DECIMAL and truncates the quotient at
    // scale 6, while DuckDB promotes to DOUBLE — the shortest-round-trip
    // literal of the IEEE quotient is the same double DuckDB computes.
    def emaLam(n: Int) = s"(acc, x) -> acc + ${2.0 / (n + 1)}D * (x - acc)"
    candles
      .withColumn("px", collect_list(col("close_price")).over(prefix(keyCols)))
      .withColumn("macd",
        foldCol("px", emaLam(fast)) - foldCol("px", emaLam(slow)))
      .withColumn("ml", collect_list(col("macd")).over(prefix(keyCols)))
      .withColumn("signal", foldCol("ml", emaLam(sig)))
      .select(keyCols.map(col) ++ Seq(col("candle_start"), col("close_price"),
        graft.Parity.pround(col("macd"), 6).as("macd"),
        graft.Parity.pround(col("signal"), 6).as("macd_signal"),
        graft.Parity.pround(col("macd") - col("signal"), 6).as("macd_hist")): _*)
  }

  /** Holt double-exponential smoothing (level + trend), chunk-parallel —
    * the first MULTI-STATE carried recurrence on the [[graft.relational
    * .MonoidScan]] primitive (reference analog: the carried-state lookback
    * discipline of fct_eurusd_timeframes.sql:25-29 generalized from the
    * scalar EWMA to a state VECTOR). The per-candle update
    *
    *   l_t = α·x_t + (1−α)(l_{t−1} + b_{t−1})
    *   b_t = β(l_t − l_{t−1}) + (1−β)·b_{t−1}
    *
    * is the affine map (l,b) ↦ A·(l,b) + c·x_t with the CONSTANT 2×2
    * matrix A = [[1−α, 1−α], [−αβ, 1−αβ]] and c = (α, αβ) — so the
    * composition monoid is 2×2-matrix-affine: (A₂,c₂)∘(A₁,c₁) =
    * (A₂A₁, A₂c₁+c₂), associative, exactly what MonoidScan distributes.
    * Same shape as [[affineScanN]] (which is the 1×1 case): per-chunk
    * prefix folds in parallel, per-chunk totals, the grid-keyed monoid
    * scan for each chunk's incoming (l,b), one join back. Seeds from the
    * series' first close: (l₀, b₀) = (x₀, 0).
    *
    * Matrix entries ride as exact double literals (α=0.2, β=0.1 →
    * 0.8/−0.02/0.98/0.2/0.02 — decimal strings both engines parse to the
    * identical doubles); every composition step is the same
    * product-sum expression text on both engines, so the fold is
    * bit-identical and the chunk-form oracle is exact at ≤64 chunks
    * (beyond that: the documented fanout-64 hierarchy, deterministic in
    * the data, never in the partitioning).
    */
  def holtChunked(candles: DataFrame, candlesPerChunk: Int = 64,
      gridUs: Long = 3600000000L, keyCols: Seq[String] = Nil,
      maxChunksHint: Option[Long] = None): DataFrame = {
    // per-candle element: named_struct of the constant A and c·x_t
    val elem = "x -> named_struct(" +
      "'a11', 0.8D, 'a12', 0.8D, 'a21', -0.02D, 'a22', 0.98D, " +
      "'b1', 0.2D * x.close_price, 'b2', 0.02D * x.close_price)"
    // full matrix-affine composition (acc applied first, then f); the
    // b-part reads only b-parts of acc, which is what lets the seeded
    // fold carry the state in b while keeping the accumulator type
    val compose = "(acc, f) -> named_struct(" +
      "'a11', f.a11 * acc.a11 + f.a12 * acc.a21, " +
      "'a12', f.a11 * acc.a12 + f.a12 * acc.a22, " +
      "'a21', f.a21 * acc.a11 + f.a22 * acc.a21, " +
      "'a22', f.a21 * acc.a12 + f.a22 * acc.a22, " +
      "'b1', f.a11 * acc.b1 + f.a12 * acc.b2 + f.b1, " +
      "'b2', f.a21 * acc.b1 + f.a22 * acc.b2 + f.b2)"
    // seeded application: identity A, state evolves in (b1, b2) — the
    // identical b-expressions as compose, so it mirrors the oracle's
    // prepended-identity fold bit for bit
    val seededStep = "(acc, f) -> named_struct(" +
      "'a11', 1.0D, 'a12', 0.0D, 'a21', 0.0D, 'a22', 1.0D, " +
      "'b1', f.a11 * acc.b1 + f.a12 * acc.b2 + f.b1, " +
      "'b2', f.a21 * acc.b1 + f.a22 * acc.b2 + f.b2)"
    val firstAgg = min_by(col("close_price"), col("candle_start")).as("__x0")
    val first = candles.groupBy(keyCols.map(col): _*).agg(firstAgg)
    val seeds = first.select(keyCols.map(col) :+
      expr("named_struct('a11', 1.0D, 'a12', 0.0D, 'a21', 0.0D, " +
        "'a22', 1.0D, 'b1', __x0, 'b2', 0.0D)").as("__seed0"): _*)
    chunkScan(candles, Seq("close_price"), elem, compose, seededStep,
        seeds, candlesPerChunk, gridUs, keyCols, "holt", maxChunksHint)
      .withColumn("__lraw",
        expr("holt_ab.a11 * holt_sin.b1 + holt_ab.a12 * holt_sin.b2 + holt_ab.b1"))
      .withColumn("__traw",
        expr("holt_ab.a21 * holt_sin.b1 + holt_ab.a22 * holt_sin.b2 + holt_ab.b2"))
      .select(keyCols.map(col) ++ Seq(col("candle_start"), col("close_price"),
        graft.Parity.pround(col("__lraw"), 6).as("level"),
        graft.Parity.pround(col("__traw"), 6).as("trend"),
        graft.Parity.pround(col("__lraw") + col("__traw"), 6).as("forecast")): _*)
  }

}
