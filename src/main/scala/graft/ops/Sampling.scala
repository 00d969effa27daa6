package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.predicates.PseudorandomSplit

/** Sampling / ordering operators with a portable determinism
  * contract: everything is keyed on md5-derived fractions, so the
  * same row lands in the same sample (and the same position in a
  * permutation) on any engine, any cluster size, forever — the
  * property petastorm's seeded readers approximate with seeded RNGs
  * (reader.py:99,474-479; weighted_sampling_reader.py:26-99).
  */
object Sampling {

  /** Deterministic keep-fraction sample: row kept iff
    * `frac(md5(seed:salt:key)) < fraction`. */
  def sampleByKey(df: DataFrame, key: Column, fraction: Double,
      seed: Long = 0, salt: String = ""): Column = {
    require(fraction >= 0 && fraction <= 1, s"fraction $fraction")
    PseudorandomSplit.hashFraction(
      concat(lit(s"$seed:$salt:"), key.cast("string"))) < lit(fraction)
  }

  /** Deterministic per-stratum fraction sampling — Spark's
    * `stat.sampleBy` with a portable contract: membership is a pure
    * function of (seed, key), so the sample is identical across
    * runs, engines, partitionings, and retries — the property
    * `sampleBy`'s RNG-per-partition explicitly lacks and a training
    * pipeline needs for reproducible mixes. Strata absent from
    * `fractions` sample at `default` (0 = dropped). Scan-speed: one
    * md5 + one compare per row, no shuffle, no stratum-size job. */
  def sampleByStrata(df: DataFrame, strataCol: String, key: Column,
      fractions: Map[String, Double], seed: Long = 0,
      default: Double = 0.0): DataFrame = {
    (fractions.values.toSeq :+ default).foreach(f =>
      require(f >= 0 && f <= 1, s"fraction $f outside [0, 1]"))
    val frac = fractions.foldLeft(lit(default)) { case (acc, (s, f)) =>
      when(col(strataCol) === s, lit(f)).otherwise(acc)
    }
    // "strata" family tag: with a bare "$seed::" prefix this would be
    // byte-identical to sampleByKey's default-salt family, silently
    // NESTING the two ops' samples at equal seeds instead of drawing
    // independently
    df.filter(PseudorandomSplit.hashFraction(
      concat(lit(s"$seed:strata:"), key.cast("string"))) < frac)
  }

  /** Weighted top-k sampling via a deterministic hash race: each row
    * holds `weight` tickets (an integral column, capped by
    * `maxWeight`), the row's race key is its MINIMUM ticket draw,
    * and the k smallest race keys win — higher weight → more
    * tickets → stochastically smaller minimum → proportionally
    * higher selection odds (the discrete cousin of the
    * Efraimidis–Spirakis exponential race, 2006).
    *
    * Why not E–S itself: its `u^(1/w)` / `-ln(u)/w` keys hang
    * selection boundaries on libm's last ulp — `pow`/`ln` are not
    * correctly-rounded and differ across engines, so the SAME data
    * can select differently elsewhere. The ticket draws are pure
    * integer arithmetic over md5 — bit-reproducible anywhere, which
    * is the property that matters for an auditable training mix.
    * ONE md5 per ROW (family-tagged `md5(seed:wts:key)` — an
    * untagged `seed:key` prefix could collide with [[sampleByKey]]'s
    * salted family at equal seeds) yields two independent 60-bit
    * uniforms; ticket t's draw is the codegen'd double-hash mix
    * `(h1 + t·h2) mod 2^60` ([[graft.codecs.TicketRaceMin]]) — one
    * wrapping add + mask per ticket, so `maxWeight` prices a tight
    * integer loop, not per-ticket md5 calls (10¹² of them at 10⁹
    * rows × w=1000 — the r7 perf flag). The race key is an exact
    * integer (ties broken by key column), never a float.
    *
    * Scale shape: the race key is one md5 + a ≤`maxWeight`-iteration
    * codegen loop per row at scan speed, evaluated in ONE branch
    * (the rankTopK input; the winners join recovers the race key
    * from the rank output rather than re-drawing); the global top-k
    * rides [[AnnSearch.rankTopK]]'s two-phase bounded heaps (per
    * partition ≤ k survive before the single tiny exchange).
    * Weights are truncated to integers; rows whose truncated weight
    * is < 1 (null, non-positive, or fractional below 1) hold no
    * tickets and never win; weights above `maxWeight` race with
    * exactly `maxWeight` tickets. Appends `race_key` and `rank` —
    * reserved names the input must not already carry. */
  def weightedSample(df: DataFrame, key: Column, weightCol: String,
      k: Int, seed: Long = 0, maxWeight: Int = 1000): DataFrame = {
    require(k > 0, s"k must be positive (got $k)")
    require(maxWeight > 0, s"maxWeight must be positive (got $maxWeight)")
    Seq("race_key", "rank").foreach(c => require(!df.columns.contains(c),
      s"weightedSample appends '$c' — rename the input's '$c' column"))
    // filter on the TRUNCATED weight BEFORE the cap: a fractional
    // weight in (0,1) passes `> 0` but casts to 0; and `least` SKIPS
    // nulls, so filtering after least(null, maxWeight) would
    // resurrect null weights as maxWeight
    val wTrunc = col(weightCol).cast("long")
    val w = least(wTrunc, lit(maxWeight.toLong))
    val slim = df.filter(wTrunc >= 1)
    // hex digits 1-15 / 17-31 of one md5: two 60-bit uniforms (15
    // digits so the unsigned conv result always fits a signed long)
    val digest = md5(concat(lit(s"$seed:wts:"), key.cast("string")))
    val h1 = conv(substring(digest, 1, 15), 16, 10).cast("long")
    val h2 = conv(substring(digest, 17, 15), 16, 10).cast("long")
    val race = graft.functions.GraftFunctions.ticketRaceMin(h1, h2, w)
    // rankTopK ranks DESC; negate so the smallest race key wins
    val ranked = graft.ops.AnnSearch.rankTopK(
      slim.select(lit(0L).as("qid"), key.cast("string").as("cid"),
        (-race).as("cos_m")), k)
      .select(col("cid").as("__ws_cid"), col("rank"),
        (-col("cos_m")).as("race_key"))
    slim.join(ranked, key.cast("string") === col("__ws_cid"))
      .drop("__ws_cid")
  }

  /** Priority sampling (Duffield, Lund & Thorup 2007) — the
    * weight-proportional without-replacement sample that also carries
    * an UNBIASED subset-sum estimator: row i gets priority
    * `p_i = w_i / u_i` with `u_i = (h_i + 1) / 2^60` a 60-bit md5
    * uniform, the top-k priorities are kept, and every kept row's
    * weight estimate is `est_w = max(w_i, τ)` where τ is the
    * (k+1)-th priority — `Σ est_w` over any kept subset estimates
    * that subset's true weight sum, the property a sampled corpus
    * audit needs (plain top-k-by-weight has no such estimator).
    * All arithmetic is integer (p = (w·2^60) div (h+1), DECIMAL(38)
    * headroom), so selection and estimates reproduce on any engine.
    *
    * Output: the selected rows' (key, w, est_w), est_w as BIGINT —
    * the internal priority arithmetic stays in DECIMAL(38,0)
    * headroom, but τ over any realistic (k, weights) is far inside
    * long range (τ ≤ max(w)·2^60/k'th-hash; here ≈ max(w)·n/k), so
    * the published estimate is a plain long. The adversarial case
    * (k within a few rows of n drives τ toward w·2^60) is guarded:
    * an est_w above Long.MaxValue raises rather than silently
    * wrapping. Fewer than k+1 input rows → τ = 0 and est_w = w (the
    * sample is the population, estimates exact).
    *
    * Scale shape: one md5 + fixed-point arithmetic per row at scan
    * speed; the global top-(k+1) is Spark's TakeOrdered (bounded
    * per-partition heaps + one tiny merge — no full sort, no single
    * partition seeing the corpus); τ derives from that k+1-row frame
    * and broadcasts back over the k winners. Ties at equal priority
    * break by key — total order, deterministic. */
  def prioritySample(df: DataFrame, keyCol: String, weightCol: String,
      k: Int, seed: Long = 0): DataFrame = {
    require(k > 0, s"k must be positive (got $k)")
    val w = col(weightCol).cast("long")
    val h = conv(substring(md5(concat(lit(s"$seed:pri:"),
      col(keyCol).cast("string"))), 1, 15), 16, 10).cast("long")
    val slim = df.filter(w >= 1)
      .select(col(keyCol).as("key"), w.as("w"),
        (h + 1L).as("__h1"))
      .withColumn("__p", expr(
        "(CAST(w AS DECIMAL(38,0)) * 1152921504606846976) div __h1"))
    val topk1 = slim
      .orderBy(col("__p").desc, col("key"))
      .limit(k + 1)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val tau = topk1.agg(
      when(count(lit(1)) === (k + 1L), min(col("__p")))
        .otherwise(lit(0L).cast("decimal(38,0)")).as("__tau"))
    val estDec = greatest(col("w").cast("decimal(38,0)"), col("__tau"))
    topk1.orderBy(col("__p").desc, col("key")).limit(k)
      .crossJoin(broadcast(tau))
      .select(col("key"), col("w"),
        when(estDec <= lit(Long.MaxValue).cast("decimal(38,0)"),
            estDec.cast("long"))
          .otherwise(expr("CAST(raise_error('prioritySample: est_w " +
            "exceeds BIGINT range (k too close to the row count " +
            "drives tau toward w*2^60) — reduce k or rescale " +
            "weights') AS BIGINT)"))
          .as("est_w"))
  }

  /** Leakage-safe cross-validation folds — the group-aware split
    * that keeps every member of a duplicate cluster in the SAME
    * fold: a near-copy of a training document landing in the eval
    * fold is the classic contamination bug that inflates eval
    * numbers (the reason GroupKFold exists). Rows are keyed by a
    * GROUP id (e.g. a dedup-cluster representative, a domain, an
    * author); the fold is `H(seed, group) mod k` — one md5 per row,
    * engine-reproducible, no coordination.
    *
    * Output: the input plus a `fold` column. Fold sizes are
    * multinomial around n/k; stratification is the caller's job
    * (pass a stratum-qualified seed per stratum if needed). */
  def groupFolds(df: DataFrame, groupCol: Column, k: Int,
      seed: Long = 0): DataFrame = {
    require(k > 1 && k <= 4096, s"k must be in [2, 4096] (got $k)")
    df.withColumn("fold",
      conv(substring(md5(concat(lit(s"$seed:fold:"),
        groupCol.cast("string"))), 1, 15), 16, 10).cast("long") % k)
  }

  /** Weighted leakage-free split: every row of a GROUP lands in the
    * same split — the constructive counterpart of the split-leakage
    * audits (q254/q256): dedup clusters, url domains, authors must
    * not straddle train/val/test, or eval is contaminated by
    * construction. Assignment is `H(seed, group) mod Σw` against the
    * cumulative weight ranges — one md5 per row, engine-
    * reproducible, independent of row order and partitioning, zero
    * coordination. Split sizes are multinomial around the weights:
    * exact quotas are impossible without splitting a group (use
    * [[exactSplit]] when rows, not groups, are the leakage unit).
    * NULL groups hash as one group (they land together, not spread).
    *
    * Output: the input plus a `split` column. */
  def splitByGroup(df: DataFrame, groupCol: Column,
      splits: Seq[(String, Long)], seed: Long = 0): DataFrame = {
    require(splits.size >= 2, "splitByGroup needs at least two splits")
    require(splits.forall(_._2 > 0), "split weights must be positive")
    require(splits.map(_._1).distinct.size == splits.size,
      "duplicate split names")
    val tot = splits.map(_._2).sum
    val h = conv(substring(md5(concat(lit(s"$seed:gsplit:"),
      coalesce(groupCol.cast("string"), lit(" ")))), 1, 15),
      16, 10).cast("long") % tot
    val uppers = splits.scanLeft(0L)(_ + _._2).tail.zip(splits.map(_._1))
    val assigned = uppers.dropRight(1)
      .foldRight(lit(splits.last._1): Column) {
        case ((ub, nm), acc) => when(h < ub, lit(nm)).otherwise(acc)
      }
    df.withColumn("split", assigned)
  }

  /** Weighted union of readers (SH3): each input is sampled at its
    * probability (independent hash families per branch), then
    * union'd. The reference mixes by drawing per-row at read time —
    * same expected composition, but this form is deterministic and
    * embarrassingly parallel (no shared iterator state). */
  def weightedUnion(dfs: Seq[(DataFrame, Double)], keyCol: String,
      seed: Long = 0): DataFrame = {
    require(dfs.nonEmpty)
    dfs.zipWithIndex.map { case ((df, p), i) =>
      df.filter(sampleByKey(df, col(keyCol), p, seed, salt = i.toString))
    }.reduce(_.unionByName(_))
  }

  /** Seeded-permutation sort key for `key` (md5 order) — the portable
    * form of `shuffle(seed)`: same row, same position, any engine. */
  def permutationKey(key: Column, seed: Long): Column =
    md5(concat(lit(s"$seed:"), key.cast("string")))

  /** (row, position) under the seeded permutation, keyed on `keyCol`.
    * A global permutation is inherently a global sort; this one is
    * computed scale-out via [[Ranking.withGlobalIndex]] (range
    * shuffle + per-partition offsets), NOT a single-partition global
    * window. `posCol` is a 1-based LONG — an int would overflow past
    * ~2.1B rows, i.e. exactly the scale this shape exists for. Keyed
    * on row CONTENT, it is portable across engines and layouts, unlike
    * [[graft.sources.GraftRead.shuffle]]'s storage-position order. */
  def withShufflePosition(df: DataFrame, keyCol: String, seed: Long,
      posCol: String = "pos"): DataFrame = {
    val staged = df.withColumn("__sk", permutationKey(col(keyCol), seed))
    Ranking.withGlobalIndex(staged, Seq(col("__sk"), col(keyCol)), "__idx")
      .withColumn(posCol, col("__idx") + 1)
      .drop("__sk", "__idx")
  }

  /** Deterministic stratified sample: at most `k` rows per stratum,
    * chosen by md5-permutation rank within the stratum — the same
    * rows survive on any engine, partitioning, or cluster size (the
    * portable form of per-class balanced sampling for training
    * mixes). Attaches `rankCol` (1-based int).
    *
    * Scale shape: Spark plans the rank filter as WindowGroupLimit —
    * every task keeps only its local top-k per stratum BEFORE the
    * shuffle, so a 100 TB corpus shuffles at most k·strata·tasks
    * rows, never the corpus. A skewed stratum therefore costs its
    * mappers, not one reducer. */
  def stratified(df: DataFrame, strataCol: String, keyCol: String, k: Int,
      seed: Long = 0, rankCol: String = "samp_rank"): DataFrame = {
    require(k > 0, s"k must be positive (got $k)")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(strataCol))
      .orderBy(permutationKey(col(keyCol), seed), col(keyCol))
    df.withColumn(rankCol, row_number().over(w)).filter(col(rankCol) <= k)
  }

  /** Temperature-balanced source mixing — the multilingual/source
    * rebalancing step of training-mix construction: sample source s
    * with budget ∝ n_s^(1/T) (T=1 keeps natural proportions, larger T
    * flattens toward uniform across sources), then keep each source's
    * budget as its md5-permutation rank-lowest rows (portable — same
    * survivors on any engine or cluster size).
    *
    * Engine-exact arithmetic at the default T=2: per-source weights
    * are `max(1, floor(sqrt(n_s)))` — sqrt is correctly rounded in
    * IEEE so every engine floors the same integer — and budgets are
    * `min(n_s, totalRows·w_s DIV Σw)` in pure integer math. A general
    * T uses float `pow`, whose last ulp is libm-dependent: fine for
    * real mixes, not for cross-engine oracle checks.
    *
    * Scale shape: one map-side-combined count agg (collected — rows =
    * #sources, bounded), then the corpus passes a WindowGroupLimit
    * prune at the LARGEST budget (each task keeps its local top-k_max
    * per source before the shuffle) and the exact per-source budget
    * filters against the broadcast budget map. Two corpus scans
    * total — the price of exact budget counts. Sources whose integer
    * budget rounds to 0 are dropped (raise totalRows or pre-filter).
    * Output: input columns + `samp_rank`. */
  def temperatureMix(df: DataFrame, sourceCol: String, keyCol: String,
      totalRows: Long, temperature: Double = 2.0, seed: Long = 0): DataFrame = {
    require(totalRows > 0, s"totalRows must be positive (got $totalRows)")
    require(temperature > 0, s"temperature must be positive (got $temperature)")
    val exponent = 1.0 / temperature
    val wCol =
      if (temperature == 2.0) floor(sqrt(col("__n").cast("double")))
      else floor(pow(col("__n").cast("double"), exponent))
    val budgets = df.groupBy(col(sourceCol)).agg(count(lit(1)).as("__n"))
      .withColumn("__w", greatest(wCol.cast("long"), lit(1L)))
      .collect().map(r => (r.get(0), r.getLong(1), r.getLong(2)))
    val sw = budgets.map(_._3).sum
    val ks = budgets.map { case (src, n, w) =>
      (src, math.min(n, totalRows * w / sw))
    }.filter(_._2 > 0)
    if (ks.isEmpty) return df.withColumn("samp_rank", lit(1)).limit(0)
    val kMax = ks.map(_._2).max
    require(kMax <= Int.MaxValue,
      s"per-source budget $kMax exceeds the rank-based selector's " +
        "range; use sampleByKey (hash-fraction) for budgets beyond 2^31")
    val spark = df.sparkSession
    import scala.jdk.CollectionConverters._
    val kDf = spark.createDataFrame(
      ks.toSeq.map(t => org.apache.spark.sql.Row(t._1, t._2)).asJava,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField(sourceCol,
          df.schema(sourceCol).dataType),
        org.apache.spark.sql.types.StructField("__k",
          org.apache.spark.sql.types.LongType, nullable = false))))
    stratified(df, sourceCol, keyCol, kMax.toInt, seed)
      .join(broadcast(kDf), Seq(sourceCol))
      .filter(col("samp_rank") <= col("__k"))
      .drop("__k")
  }

  /** Deterministic TOKEN-budget mixture — the "30 B tokens of web,
    * 3 B of wiki" step that assembles a pretraining mix: within each
    * source, documents are taken in seeded-hash order until the
    * source's token budget is exhausted. [[temperatureMix]] budgets
    * ROWS; pretraining mixes are specified in TOKENS, and document
    * length varies by orders of magnitude, so a row quota is the
    * wrong unit. Selection is the longest hash-ordered PREFIX whose
    * inclusive token sum fits the budget (the per-group cumulative
    * sum is monotone, so `cum <= budget` IS a prefix — one
    * oversized document early in the order shadows later ones, by
    * design: any "skip and refill" rule would make membership
    * depend on every earlier decision and unreproducible under
    * re-partitioning).
    *
    * Contract: groups absent from `budgets` are dropped (the mix IS
    * the spec); null ids are dropped (the id-keyed contract of
    * [[Dedup]]/[[DupSpans]]); null text counts 0 tokens and a
    * 0-token doc fits even an exhausted budget (it adds nothing).
    * Token unit: alpha tokens ([[TextAnalysis.alphaTokens]], the
    * `unicode` knob selects the multilingual tokenizer); callers
    * budgeting in BPE tokens join [[TextAnalysis.bpeTokenCounts]]
    * and filter the same way. Output: (idCol, groupCol, n_tokens,
    * cum_tokens), deterministic for a fixed seed.
    *
    * Scale shape: NO per-group single-task window — the per-group
    * cumulative sum rides [[Ranking.withRunningTotal]]'s global
    * prefix scan under (group, hash, id) order (range shuffle +
    * per-partition partials + broadcast offsets, every stage fully
    * parallel) minus each group's base offset (one row per group,
    * AQE-broadcast back). The budget map joins broadcast (it is the
    * mix spec — human-sized). One md5 per row, one range shuffle
    * total. */
  def tokenBudgetMixture(df: DataFrame, idCol: String, groupCol: String,
      textCol: String, budgets: Map[String, Long], seed: Long = 0,
      unicode: Boolean = false): DataFrame = {
    require(budgets.nonEmpty, "tokenBudgetMixture needs at least one budget")
    budgets.foreach { case (g, b) =>
      require(b >= 0, s"negative token budget for group '$g': $b") }
    val spark = df.sparkSession
    import scala.jdk.CollectionConverters._
    val bDf = spark.createDataFrame(
      budgets.toSeq.sortBy(_._1)
        .map(t => org.apache.spark.sql.Row(t._1, t._2)).asJava,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField(groupCol,
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("__budget",
          org.apache.spark.sql.types.LongType, nullable = false))))
    val staged = df.filter(col(idCol).isNotNull)
      .join(broadcast(bDf), Seq(groupCol))
      .select(col(idCol), col(groupCol), col("__budget"),
        size(TextAnalysis.alphaTokens(
          coalesce(col(textCol), lit("")), unicode)).cast("long").as("__nt"),
        md5(concat_ws(":", lit(s"$seed:mix"), col(groupCol),
          col(idCol).cast("string"))).as("__h"))
    val scanned = Ranking.withRunningTotal(staged,
      Seq(col(groupCol), col("__h"), col(idCol)), "__nt", "__pre")
    val bases = scanned.groupBy(col(groupCol))
      .agg(min(col("__pre")).as("__base"))
    scanned.join(bases, Seq(groupCol))
      .withColumn("cum_tokens", col("__pre") - col("__base") + col("__nt"))
      .filter(col("cum_tokens") <= col("__budget"))
      .select(col(idCol), col(groupCol), col("__nt").as("n_tokens"),
        col("cum_tokens"))
  }

  /** Largest-remainder budget allocation (Hamilton's method) — the
    * step UPSTREAM of [[tokenBudgetMixture]]: split one global token
    * budget across sources proportionally to their weights, in exact
    * integers that SUM TO THE BUDGET (floor division alone
    * undershoots by up to k−1 tokens; the remainder ranking tops up
    * the floors deterministically — remainder desc, then key asc, a
    * total order). This is the mixture-planning calculation (DoReMi-
    * style reweighting, dataset cards): quota_i = ⌊B·w_i/W⌋ + 1 for
    * the R = B − Σ⌊·⌋ largest remainders.
    *
    * Output: (key, w, quota) with Σ quota = budget exactly
    * (spec-asserted). Zero/negative weights are dropped (no mass).
    * Scale shape: one weight agg; everything after runs on the
    * key-cardinality table (sources are categorical by contract —
    * the window ranks k rows, not the corpus); totals attach as
    * broadcast 1-row aggregates; B·w rides DECIMAL(38,0). */
  def allocateBudget(df: DataFrame, keyCol: String, weightCol: String,
      budget: Long): DataFrame = {
    require(budget >= 0, s"budget must be >= 0 (got $budget)")
    val w = df.filter(col(keyCol).isNotNull)
      .select(col(keyCol).as("key"), col(weightCol).cast("long").as("__w"))
      .filter(col("__w") > 0)
      .groupBy(col("key")).agg(sum(col("__w")).as("w"))
    val tot = w.agg(sum(col("w")).as("__tw"))
    val based = w.crossJoin(broadcast(tot))
      .withColumn("__base",
        expr(s"CAST((CAST(w AS DECIMAL(38,0)) * $budget) div __tw" +
          " AS BIGINT)"))
      .withColumn("__rem",
        expr(s"CAST((CAST(w AS DECIMAL(38,0)) * $budget) % __tw" +
          " AS DECIMAL(38,0))"))
    val spare = based.agg((lit(budget) - sum(col("__base"))).as("__r"))
    val rk = org.apache.spark.sql.expressions.Window
      .orderBy(col("__rem").desc, col("key"))
    based.crossJoin(broadcast(spare))
      .withColumn("__rk", row_number().over(rk))
      .select(col("key"), col("w"),
        (col("__base") +
          when(col("__rk") <= col("__r"), lit(1L)).otherwise(lit(0L)))
          .as("quota"))
  }

  /** A4 parity (test_util/shuffling_analysis.py:52-109): Pearson
    * correlation between the key order and its shuffled position —
    * ~0 for a good shuffle, 1.0 for unshuffled. */
  def shuffleQuality(df: DataFrame, keyCol: String, seed: Long): DataFrame =
    withShufflePosition(df, keyCol, seed)
      .agg(corr(col(keyCol).cast("double"), col("pos").cast("double"))
        .as("order_corr"))

  /** The EXACT integer moments behind [[shuffleQuality]]'s Pearson
    * correlation — (n, Σx, Σy, Σxy, Σx², Σy²) over (key, position).
    * Integer sums are addition-order-invariant, so the analysis is
    * reproducible bit-for-bit on any engine/partitioning (the float
    * `corr` is not — its summation order varies); the caller derives
    * r = (nΣxy − ΣxΣy) / √(nΣx²−(Σx)²) / √(nΣy²−(Σy)²) driver-side.
    * Sums accumulate in DECIMAL(38,0): Σy² ≈ n³/3 blows past a long
    * at only ~3M rows, far below the scale this operator targets —
    * 38 digits holds to ~10¹² rows. Requires an integral key. */
  def shuffleQualityMoments(df: DataFrame, keyCol: String,
      seed: Long): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val x = col(keyCol).cast("long").cast(dec)
    val y = col("pos").cast(dec)
    withShufflePosition(df, keyCol, seed).agg(
      count(lit(1)).as("n"),
      sum(x).as("sx"), sum(y).as("sy"),
      sum(x * y).as("sxy"),
      sum(x * x).as("sxx"), sum(y * y).as("syy"))
  }

  /** EXACT-size stratified split — train/val/test with sizes that
    * are exactly right per stratum, not approximately right: the
    * ppm-threshold split (q08) hits 80/10/10 only in expectation,
    * while eval sets, labeling budgets and benchmark slices are
    * specified in exact counts. Per stratum the split sizes are
    * Hamilton largest-remainder quotas of the stratum's row count
    * over `splits` weights (they sum EXACTLY to the stratum size),
    * and rows are dealt to splits by their md5(seed:id) rank — a
    * pure function of the data, reproducible across engines,
    * retries and partitionings, and stable under re-stratification
    * of OTHER strata.
    *
    * Scale shape: one stratum-count agg; quota arithmetic runs on
    * the strata×splits table (splits are a literal handful); the
    * row ranking is a per-stratum sort window — the per-key skew
    * contract (a stratum's rows sort within its partition; strata
    * are the parallelism). The boundary attach is a stratum-keyed
    * join against k rows per stratum. Null ids are refused (the
    * rank would be ambiguous). Ids should be UNIQUE within a
    * stratum: duplicate ids draw identical ranks-by-hash, so which
    * copy lands in which split is arbitrary (sizes stay exact; the
    * per-ROW assignment of the copies does not).
    *
    * Output: the input columns + `split` (name from `splits`). */
  def exactSplit(df: DataFrame, strataCols: Seq[String],
      splits: Seq[(String, Long)], idCol: String,
      seed: String = "xs"): DataFrame = {
    require(strataCols.nonEmpty, "exactSplit needs strata columns")
    require(splits.size >= 2, "exactSplit needs at least two splits")
    require(splits.forall(_._2 > 0), "split weights must be positive")
    require(splits.map(_._1).distinct.size == splits.size,
      "duplicate split names")
    val spark = df.sparkSession
    import spark.implicits._
    val sCols = strataCols.map(col)
    val totW = splits.map(_._2).sum
    val defs = broadcast(splits.zipWithIndex
      .map { case ((nm, w), i) => (nm, w, i) }
      .toDF("split", "__w", "__i"))
    val base = df.filter(col(idCol).isNotNull)
    val counts = base.groupBy(sCols: _*).agg(count(lit(1)).as("__n"))
    val wRem = Window.partitionBy(sCols: _*)
      .orderBy(expr(s"(__n * __w) % $totW").desc, col("__i"))
    val wCum = Window.partitionBy(sCols: _*).orderBy(col("__i"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy(sCols: _*)
    // Hamilton per stratum: base = floor(n·w/W); the R = n − Σbase
    // leftovers go to the largest remainders (ties by split order);
    // [lo, hi) boundaries follow from the cumulative quota.
    val bounds = counts.crossJoin(defs)
      .withColumn("__base", expr(s"(__n * __w) div $totW"))
      .withColumn("__R", col("__n") - sum(col("__base")).over(wAll))
      .withColumn("__rk", row_number().over(wRem))
      .withColumn("__quota", col("__base") +
        when(col("__rk") <= col("__R"), 1L).otherwise(0L))
      .withColumn("__hi", sum(col("__quota")).over(wCum))
      .withColumn("__lo", col("__hi") - col("__quota"))
      .select(strataCols.map(c => col(c).as(s"__sb_$c")) ++
        Seq(col("split"), col("__lo"), col("__hi")): _*)
    val wRank = Window.partitionBy(sCols: _*)
      .orderBy(Sketch.hash60(concat_ws(":", lit(seed),
        col(idCol).cast("string"))), col(idCol))
    // null ids are excluded (their rank would be an engine-dependent
    // tie) — the ecdf convention; quotas above count the same
    // filtered frame. Null STRATUM keys are strata like any other:
    // the boundary join is null-safe (the quantileBins lesson).
    val ranked = base
      .withColumn("__r", row_number().over(wRank).cast("long"))
    val cond = strataCols.map(c => col(c) <=> col(s"__sb_$c"))
      .reduce(_ && _)
    ranked.join(bounds, cond)
      .filter(col("__r") > col("__lo") && col("__r") <= col("__hi"))
      .drop(strataCols.map(c => s"__sb_$c") ++
        Seq("__r", "__lo", "__hi"): _*)
  }
}
