"""Training-data preparation operators: sequence packing, deterministic
dataset splits, PII scrubbing.

All pure Catalyst expressions (JVM, whole-stage codegen) with exact DuckDB
oracle twins in __spark_entry__.py.

- pack_sequences: assign documents to fixed-token-budget training packs.
  Packing is per-shard (the window partitions on a shard column), never a
  global single-reducer sort — at 100 TB each shard packs independently and
  shards are sized to executors. The boundary rule is streaming-deterministic:
  a document belongs to the pack where its running token count starts
  (floor((cumsum - n_tokens) / max_tokens)), so a straddling document goes to
  the pack it begins in; packs can overflow by at most one document, which is
  the standard concat-then-chunk pretraining layout.
- split_assign: stable train/val/test assignment from the md5 of the id —
  reshuffling, re-partitioning or re-running can never move a document across
  splits (no RNG, no row order dependence).
- scrub_pii: regex redaction of emails and URLs (RE2-compatible patterns so
  the DuckDB oracle applies the identical regexes).
- sample_mixture: deterministic domain-mixture downsampling to target
  proportions (md5-stable accept, integer thresholds, broadcast rate map —
  the corpus is filtered in one map-side pass, never shuffled).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from wbkg.session import cut

EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
URL_RE = r"https?://[^\s]+"


def pack_sequences(
    df: DataFrame,
    max_tokens: int = 2048,
    id_col: str = "doc_id",
    text_col: str = "text",
    shard_col: str | None = None,
) -> DataFrame:
    """-> (id, shard, n_tokens, cum_tokens, pack_id). Deterministic order:
    by id within shard."""
    n_tokens = F.size(F.split(F.trim(F.col(text_col)), r"\s+"))
    shard = F.col(shard_col) if shard_col else F.lit("all")
    out = df.select(
        F.col(id_col), shard.cast("string").alias("shard"), n_tokens.alias("n_tokens")
    )
    w = (
        Window.partitionBy("shard")
        .orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    out = out.withColumn("cum_tokens", F.sum("n_tokens").over(w))
    pack = F.floor((F.col("cum_tokens") - F.col("n_tokens")) / F.lit(max_tokens))
    return out.withColumn("pack_id", pack)


def split_assign(
    df: DataFrame,
    id_col: str = "doc_id",
    train_pct: int = 90,
    val_pct: int = 5,
) -> DataFrame:
    """Adds (split_bucket, split): md5-stable percentage split."""
    bucket = (
        F.conv(F.substring(F.md5(F.col(id_col).cast("string")), 1, 8), 16, 10)
        .cast("long")
        % 100
    )
    split = (
        F.when(bucket < train_pct, F.lit("train"))
        .when(bucket < train_pct + val_pct, F.lit("val"))
        .otherwise(F.lit("test"))
    )
    return df.withColumn("split_bucket", bucket).withColumn("split", split)


def sample_mixture(
    df: DataFrame,
    weights: dict[str, float],
    domain_col: str = "source",
    id_col: str = "doc_id",
    seed: int = 42,
) -> DataFrame:
    """Deterministic domain-mixture sampling (the DoReMi/Pile-style static
    mixing step): downsample each domain so the surviving corpus matches the
    target proportions `weights`, keeping as much data as feasible.

    The largest corpus at the target mixture keeps
        kept_d = weight_d * scale,  scale = min_d(count_d / weight_d)
    (the binding domain survives whole; every other domain is thinned to
    match). Acceptance is md5-stable per id — like split_assign, no RNG and
    no row-order dependence, so re-runs, re-partitioning and resumed jobs
    keep exactly the same documents. Domains absent from `weights` are
    dropped.

    Scale shape: one tiny groupBy for the per-domain counts (partial-agg,
    domain-cardinality rows), joined back as a BROADCAST onto the corpus —
    the corpus itself is filtered in a single map-side pass, never shuffled.
    The accept decision compares the 32-bit md5 bucket against an integer
    threshold floor(rate * 2^32), so the DuckDB oracle reproduces it exactly
    (no float-comparison edge).

    -> input rows that survive, plus (_mix_rate) for audit."""
    w_norm = {k: v / sum(weights.values()) for k, v in weights.items()}
    counts = df.groupBy(domain_col).agg(F.count("*").alias("_n"))
    wmap = F.create_map(*[F.lit(x) for kv in w_norm.items() for x in kv])
    rates = counts.withColumn("_w", wmap[F.col(domain_col)]).filter(
        F.col("_w").isNotNull()
    )
    # scale = min over domains of n/w  (double math, same association as oracle)
    scale = rates.select(F.min(F.col("_n") / F.col("_w")).alias("s"))
    rates = rates.crossJoin(F.broadcast(scale)).select(
        domain_col,
        (F.col("_w") * F.col("s") / F.col("_n")).alias("_mix_rate"),
        F.floor(F.col("_w") * F.col("s") / F.col("_n") * F.lit(4294967296.0))
        .cast("long")
        .alias("_thresh"),
    )
    bucket = F.conv(
        F.substring(F.md5(F.concat_ws(":", F.col(id_col).cast("string"), F.lit(str(seed)))), 1, 8),
        16,
        10,
    ).cast("long")
    return (
        df.join(F.broadcast(rates), domain_col)
        .filter(bucket < F.col("_thresh"))
        .drop("_thresh")
    )


def scrub_pii(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Adds (clean_text, n_redactions): emails -> <EMAIL>, URLs -> <URL>."""
    c = F.col(text_col)
    n_emails = F.size(F.regexp_extract_all(c, F.lit(EMAIL_RE), F.lit(0)))
    no_mail = F.regexp_replace(c, EMAIL_RE, "<EMAIL>")
    n_urls = F.size(F.regexp_extract_all(no_mail, F.lit(URL_RE), F.lit(0)))
    clean = F.regexp_replace(no_mail, URL_RE, "<URL>")
    return df.withColumn("clean_text", clean).withColumn(
        "n_redactions", n_emails + n_urls
    )


def cap_per_source(
    df: DataFrame,
    key_col: str = "source",
    max_per_key: int = 100,
    id_col: str = "doc_id",
) -> DataFrame:
    """Domain/source frequency cap: keep at most `max_per_key` documents per
    `key_col` — the standard pretraining guard against a single domain
    flooding the corpus (C4/Gopher-style per-domain limits).

    Selection is a deterministic UNBIASED sample, not first-N: rows rank by
    md5(id || ':cap') within their key, so which documents survive is
    independent of ingestion order, partitioning, and any upstream sort —
    re-running can never change the kept set. Adds (kept_rank).

    Scale shape: one hash-partitioned window per key — the same single
    shuffle a groupBy would take; no global sort, no driver state. Skewed
    mega-domains are exactly the rows the cap discards, so the post-filter
    output is skew-bounded by construction."""
    w = Window.partitionBy(key_col).orderBy(
        F.md5(F.concat(F.col(id_col).cast("string"), F.lit(":cap"))),
        F.col(id_col),
    )
    return (
        df.withColumn("kept_rank", F.row_number().over(w))
        .filter(F.col("kept_rank") <= max_per_key)
    )


TRACKING_PARAM_RE = r"^(utm_[^=]*|fbclid|gclid|ref)="


def normalize_urls(
    df: DataFrame, url_col: str = "url", strip_www: bool = True
) -> DataFrame:
    """Canonical URL normalization (the CommonCrawl-style URL-dedup key):

    - scheme and host lowercased; leading ``www.`` stripped (option);
    - default ports dropped (``:80`` for http, ``:443`` for https),
      non-default ports kept;
    - fragment dropped;
    - query parameters split, tracking params removed (``utm_*``,
      ``fbclid``, ``gclid``, ``ref``), the rest SORTED and rejoined —
      param order never splits a dedup group;
    - trailing slashes stripped from the path (root becomes empty, so
      ``http://a.com`` == ``http://a.com/``).

    Pure Catalyst: parse_url + split/filter/array_sort/array_join, one
    map-side projection — no shuffle, no Python. Adds ``norm_url``."""
    url = F.col(url_col)
    proto = F.lower(F.parse_url(url, F.lit("PROTOCOL")))
    host = F.lower(F.coalesce(F.parse_url(url, F.lit("HOST")), F.lit("")))
    if strip_www:
        host = F.regexp_replace(host, r"^www\.", "")
    auth = F.coalesce(F.parse_url(url, F.lit("AUTHORITY")), F.lit(""))
    port = F.regexp_extract(auth, r":(\d+)$", 1)
    keep_port = (port != "") & ~(
        ((proto == "http") & (port == "80")) | ((proto == "https") & (port == "443"))
    )
    hostport = F.when(keep_port, F.concat(host, F.lit(":"), port)).otherwise(host)
    path = F.regexp_replace(
        F.coalesce(F.parse_url(url, F.lit("PATH")), F.lit("")), r"/+$", ""
    )
    query = F.coalesce(F.parse_url(url, F.lit("QUERY")), F.lit(""))
    params = F.filter(
        F.split(query, "&"),
        lambda p: (p != "") & ~p.rlike(TRACKING_PARAM_RE),
    )
    qn = F.array_join(F.array_sort(params), "&")
    norm = F.concat(
        proto,
        F.lit("://"),
        hostport,
        path,
        F.when(qn == "", F.lit("")).otherwise(F.concat(F.lit("?"), qn)),
    )
    return df.withColumn("norm_url", norm)


def url_canonical_docs(
    df: DataFrame, url_col: str = "url", id_col: str = "doc_id"
) -> DataFrame:
    """URL-level dedup verdict: normalize, then keep the smallest id per
    canonical URL (`is_canonical`). One partial-aggregated window shuffle
    on the normalized key; payloads never move — at 100 TB you project
    (id, url) first, dedup, then semi-join survivors back."""
    w = Window.partitionBy("norm_url")
    return (
        normalize_urls(df, url_col=url_col)
        .withColumn("keep_id", F.min(id_col).over(w))
        .withColumn("is_canonical", F.col(id_col) == F.col("keep_id"))
        .drop("keep_id")
    )


def sessionize(
    df: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    gap_minutes: int = 30,
    order_cols: tuple = ("ts", "event_id"),
) -> DataFrame:
    """Classic gap-based sessionization: events of one user belong to the
    same session while consecutive gaps stay under `gap_minutes`. Adds
    `session_seq` (per-user session ordinal, 1-based) and `session_id`
    ("<user>#<seq>").

    One window shuffle on the user key; the session boundary is the
    standard lag-gap-cumsum dataflow (a new session starts where
    ts - lag(ts) exceeds the gap), entirely Catalyst window expressions —
    the same computation Structured Streaming's session_window performs
    incrementally, here as the batch/backfill twin."""
    w = Window.partitionBy(user_col).orderBy(*[F.col(c) for c in order_cols])
    prev_ts = F.lag(F.col(ts_col)).over(w)
    # timestamp subtraction -> day-time interval: timezone-independent and
    # valid for both TIMESTAMP and TIMESTAMP_NTZ columns (a cast to long is
    # not: NTZ refuses it in Spark 4)
    gap = F.expr(f"INTERVAL {int(gap_minutes)} MINUTES")
    new_session = (prev_ts.isNull() | ((F.col(ts_col) - prev_ts) > gap)).cast("int")
    return (
        df.withColumn("_new_s", new_session)
        .withColumn("session_seq", F.sum("_new_s").over(w))
        .drop("_new_s")
        .withColumn(
            "session_id",
            F.concat(F.col(user_col).cast("string"), F.lit("#"), F.col("session_seq")),
        )
    )


def sketch_quantiles(
    df: DataFrame,
    group_col: str,
    value_col: str,
    probabilities: tuple[float, ...] = (0.25, 0.5, 0.75, 0.95),
    accuracy: int = 10000,
) -> DataFrame:
    """Single-pass mergeable quantile sketch per group, bound-checked
    against the exact ranks — the percentile primitive a 100 TB pipeline
    uses where an exact per-group sort is a full shuffle it can't afford
    (length/quality-score cutoffs over a corpus).

    approx_percentile (Greenwald–Khanna style, partial-aggregated
    map-side, merged on the reduce side — one shuffle of sketch state, not
    values) guarantees each reported value's true rank is within
    eps = 1/accuracy of the requested probability. Emits one row per
    (group, p) with the EXACT per-group row count and `within_bounds` =
    whether rank(approx_value) lands in [p - eps, p + eps] (rank measured
    exactly with a count-below join). Like sketch_distinct, the exact
    count and the bound verdict are oracle-replayable even though the
    sketch's estimate is implementation-specific."""
    probs = list(probabilities)
    eps = 1.0 / accuracy
    v, g = F.col(value_col), F.col(group_col)
    sk = df.groupBy(group_col).agg(
        F.percentile_approx(v, probs, F.lit(accuracy)).alias("_qs"),
        F.count("*").alias("n_rows"),
    )
    est = sk.select(
        g,
        "n_rows",
        F.explode(
            F.arrays_zip(
                F.array(*[F.lit(p) for p in probs]).alias("p"),
                F.col("_qs").alias("q"),
            )
        ).alias("_pq"),
    ).select(g, "n_rows", F.col("_pq.p").alias("p"), F.col("_pq.q").alias("q"))
    # exact rank interval of the sketched value — [count(v<q)+1, count(v<=q)]
    # covers ties — computed with partial-aggregated conditional counts per
    # (group, p); the verification join is group-keyed and broadcastable
    # (groups x probs rows). In bounds iff the interval intersects
    # [(p-eps)n, (p+eps)n]: count(v<=q) >= (p-eps)n and count(v<q) <= (p+eps)n.
    ranked = (
        df.select(g.alias("_g"), v.alias("_v"))
        .join(F.broadcast(est), F.col("_g") == g)
        .groupBy(group_col, "n_rows", "p")
        .agg(
            F.sum(F.when(F.col("_v") <= F.col("q"), 1).otherwise(0)).alias("_le"),
            F.sum(F.when(F.col("_v") < F.col("q"), 1).otherwise(0)).alias("_lt"),
        )
    )
    return ranked.select(
        group_col,
        "p",
        "n_rows",
        (
            (F.col("_le") >= (F.col("p") - F.lit(eps)) * F.col("n_rows") - 1e-6)
            & (F.col("_lt") <= (F.col("p") + F.lit(eps)) * F.col("n_rows") + 1e-6)
        ).alias("within_bounds"),
    )


def sketch_distinct(
    df: DataFrame, group_col: str, value_col: str, rsd: float = 0.02
) -> DataFrame:
    """Exact vs HLL++ distinct counts per group — the cardinality-sketch
    primitive a 100 TB pipeline uses where exact distinct is a full
    shuffle it can't afford. Emits (group, exact, within_bounds) where
    within_bounds checks the sketch against its advertised relative
    standard deviation (5 sigma): the EXACT count and the bound-check are
    oracle-replayable even though the sketch's estimate is
    implementation-specific."""
    return df.groupBy(group_col).agg(
        F.count_distinct(F.col(value_col)).alias("exact"),
        F.approx_count_distinct(F.col(value_col), rsd).alias("_approx"),
    ).select(
        group_col,
        "exact",
        (
            F.abs(F.col("_approx") - F.col("exact"))
            <= F.greatest(F.col("exact") * (5 * rsd), F.lit(1.0))
        ).alias("within_bounds"),
    )


def scd2_history(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    state_col: str,
    tiebreak_col: str | None = None,
) -> DataFrame:
    """Slowly-changing-dimension type-2 history -> (key, state,
    valid_from, valid_to): collapse an append-only event/update log into
    versioned intervals — one row per CHANGE of state per key, valid_to =
    the next change's timestamp, null while current. The standard
    warehouse-merge shape (Iceberg/Delta MERGE INTO ... SCD2) as a pure
    window plan.

    Plan: ONE shuffle (window partition by key); change detection is
    lag(state) != state over (ts, tiebreak) order, interval close is
    lead(ts) over the SAME partition after the change filter — Spark
    keeps both windows in the one sort since the partition key is
    unchanged. Pass `tiebreak_col` (a unique id) when timestamps can
    collide within a key; without it equal-ts ordering is undefined,
    exactly as in SQL."""
    order = [F.col(ts_col)] + ([F.col(tiebreak_col)] if tiebreak_col else [])
    w = Window.partitionBy(key_col).orderBy(*order)
    changes = (
        df.withColumn("_prev", F.lag(state_col).over(w))
        .filter(F.col("_prev").isNull() | (F.col("_prev") != F.col(state_col)))
    )
    w2 = Window.partitionBy(key_col).orderBy(*order)
    return changes.select(
        F.col(key_col),
        F.col(state_col).alias("state"),
        F.col(ts_col).alias("valid_from"),
        F.lead(ts_col).over(w2).alias("valid_to"),
    )


def sample_stratified(
    df: DataFrame,
    fractions: dict,
    label_col: str = "lang",
    id_col: str = "doc_id",
) -> DataFrame:
    """Deterministic stratified sample: keep each row with its stratum's
    fraction, decided by the md5 of the id — the per-class analogue of
    split_assign's global split (downsample over-represented languages /
    sources to a target mixture without an RNG, so re-runs and the
    fidelity oracle see the same sample).

    Mechanics: fractions maps label -> fraction in [0,1]; each fraction f
    becomes an 8-hex-digit threshold floor(f * 16^8) and a row survives
    iff substr(md5(id),1,8) < threshold as a STRING compare — hex is
    lexicographically monotone, both Spark and any SQL engine emit the
    same lowercase-hex md5, so the decision is bit-identical everywhere
    with no float or bigint conversion at all (granularity 1/2^32;
    fraction 1.0 compiles to the sentinel "g", above every hex digit).
    Labels absent from `fractions` are kept whole.

    Plan: pure map-side projection + filter — no shuffle, no RNG state,
    trivially resumable; the per-label threshold is a small CASE
    expression, not a join."""
    def _thr(frac: float) -> str:
        return "g" if frac >= 1.0 else format(int(frac * 16**8), "08x")

    expr = None
    for label, frac in sorted(fractions.items()):
        cond = F.col(label_col) == label
        lit = F.lit(_thr(frac))
        expr = F.when(cond, lit) if expr is None else expr.when(cond, lit)
    thr_col = expr.otherwise(F.lit("g")) if expr is not None else F.lit("g")
    return df.filter(
        F.substring(F.md5(F.col(id_col).cast("string")), 1, 8) < thr_col
    )


def event_rate_anomaly(
    df: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    threshold: float = 2.5,
) -> DataFrame:
    """Per-user event-rate anomaly detection -> (user, hour, n, z): hours
    whose event count deviates from that user's own hourly mean by more
    than `threshold` sample standard deviations — the burst/outage
    detector every event pipeline grows (a scraper going haywire, a
    source replaying, an ingest gap).

    Statistics are over the user's ACTIVE hours (hours with >= 1 event);
    users with < 3 active hours or zero variance emit nothing (no
    baseline to deviate from). Numerics are engine-exact by construction:
    the only inputs are the integer sums (n, sum x, sum x^2), and the
    mean/variance/z are spelled in ONE fixed IEEE evaluation order —
    var = (sxx - (sx*sx)/n) / (n-1) — that the oracle repeats literally,
    so no Welford-vs-naive drift; z is rounded to 8 like every float
    surface here.

    Plan: two partial-agg shuffles on the user key ((user,hour) count,
    then per-user moment fold) + one user-keyed join back — co-partitioned
    end to end; no window over unbounded history, no driver state."""
    # lazily checkpointed: the moment fold and the z-score join both read
    # the hourly counts — without it the event scan + (user, hour) agg ran
    # twice
    hours = (
        df.select(
            F.col(user_col).alias("user"),
            F.date_trunc("hour", F.col(ts_col)).alias("hour"),
        )
        .groupBy("user", "hour")
        .agg(F.count("*").alias("n"))
        .transform(cut)
    )
    moments = hours.groupBy("user").agg(
        F.count("*").alias("k"),
        F.sum("n").alias("sx"),
        F.sum(F.col("n") * F.col("n")).alias("sxx"),
    )
    mean = F.col("sx") / F.col("k")
    var = (F.col("sxx") - (F.col("sx") * F.col("sx")) / F.col("k")) / (
        F.col("k") - 1
    )
    return (
        hours.join(moments, "user")
        .filter((F.col("k") >= 3) & (var > 0))
        .select(
            "user",
            "hour",
            "n",
            F.round((F.col("n") - mean) / F.sqrt(var), 8).alias("z"),
        )
        .filter(F.abs(F.col("z")) > threshold)
    )


def rolling_stats(
    df: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
    window_rows: int = 7,
    tiebreak_col: str = "event_id",
) -> DataFrame:
    """Per-key rolling statistics -> (+roll_n, roll_sum, roll_avg): each
    row's trailing `window_rows`-row sum/avg of `value_col` in event-time
    order — the moving-average smoother every metrics/time-series surface
    needs (and the shape RANGE BETWEEN / ROWS BETWEEN compiles to).

    Frame is ROWS BETWEEN window_rows-1 PRECEDING AND CURRENT ROW over
    (ts, tiebreak) — the tiebreak pins equal-timestamp order on both
    engines, which is what makes the float fold bit-stable: both Spark and
    any ANSI engine accumulate the frame in the same row order (roll_avg
    rounds to 8, the shared convention). One hash-partitioned window
    shuffle on the key; frames never cross keys, so skew is bounded by the
    hottest key's row count, not the table."""
    w = (
        Window.partitionBy(key_col)
        .orderBy(F.col(ts_col), F.col(tiebreak_col))
        .rowsBetween(-(window_rows - 1), 0)
    )
    return df.select(
        key_col,
        ts_col,
        tiebreak_col,
        F.count("*").over(w).alias("roll_n"),
        F.round(F.sum(value_col).over(w), 8).alias("roll_sum"),
        F.round(F.avg(value_col).over(w), 8).alias("roll_avg"),
    )


def ntile_buckets(
    df: DataFrame,
    n: int = 10,
    order_cols: list | None = None,
    value_col: str = "value",
    num_partitions: int = 32,
) -> DataFrame:
    """Global quantile bucketing -> (+bucket): exact ANSI NTILE(n) over
    the total order `order_cols` (default: the value column — callers
    include a unique tiebreak when values repeat, or assignment within a
    tie is engine-arbitrary) — decile/percentile labels for score
    calibration (quality-score deciles feeding a keep-top-X% filter).

    A naive `ntile().over(Window.orderBy(...))` funnels THE WHOLE TABLE
    through one partition (Spark has no partition key to hash on) — the
    classic global-window scale-killer. This computes the same exact
    result distributed: repartitionByRange on the order (a sampled,
    balanced range sort), per-partition row_number in parallel windows,
    plus a partition-count prefix-offset (one tiny groupBy collected —
    `num_partitions` rows, driver-bounded by construction) turns local
    ranks into exact global ranks; the ANSI fill rule (first N mod n
    buckets take one extra row) maps rank -> bucket in closed form."""
    order = [F.col(c) for c in (order_cols if order_cols else [value_col])]
    # localCheckpoint PINS the range partitioning before the two reads:
    # Spark's range partitioner samples with an execution-dependent seed,
    # so without the pin the second execution (the rank pass) could draw
    # different partition boundaries than the collected sizes — duplicated
    # or skipped global ranks at scale (ADVICE r06). The checkpoint also
    # means the sort-sampled shuffle runs once, not twice.
    ranged = (
        df.repartitionByRange(num_partitions, *order)
        .withColumn("_pid", F.spark_partition_id())
        .transform(cut)
    )
    sizes = {
        r._pid: r.cnt
        for r in ranged.groupBy("_pid").agg(F.count("*").alias("cnt")).collect()
    }
    total = sum(sizes.values())
    offsets, acc = {}, 0
    for pid in sorted(sizes):
        offsets[pid] = acc
        acc += sizes[pid]
    off_expr = F.create_map(
        *[F.lit(x) for pid in sorted(offsets) for x in (pid, offsets[pid])]
    )
    w = Window.partitionBy("_pid").orderBy(*order)
    rank = (F.row_number().over(w) + off_expr[F.col("_pid")]).alias("_grank")
    q, r = divmod(total, n) if total else (0, 0)
    g = F.col("_grank")
    # ANSI NTILE: buckets 1..r hold q+1 rows, buckets r+1..n hold q rows
    if q == 0:
        bucket = g  # fewer rows than buckets: row i -> bucket i
    else:
        bucket = F.when(
            g <= r * (q + 1), F.ceil(g / F.lit(q + 1))
        ).otherwise(F.lit(r) + F.ceil((g - r * (q + 1)) / F.lit(q)))
    return (
        ranged.withColumn("_grank", rank)
        .withColumn("bucket", bucket.cast("int"))
        .drop("_pid", "_grank")
    )


def key_skew_report(df: DataFrame, key_col: str) -> DataFrame:
    """Shuffle-skew diagnostic -> (bucket, n_keys, n_rows, min_count,
    max_count): the per-key frequency distribution folded into power-of-two
    buckets (bucket = floor(log2(rows-for-key))) — the report you read
    BEFORE deciding to salt a join or cap a band (wbkg/link.py's salted
    strategy, the dedup bands' max_df caps). A healthy key is bucket 0-5;
    a bucket-20 row is a 1M-row hot key that will own a straggler task.

    The bucket is computed as binary-digit-count minus one (string length
    of the base-2 representation) — pure integer path, immune to the
    floor(log2()) float edge where ln(c)/ln(2) lands at 46.99999... for an
    exact power of two. Two partial-agg shuffles (per-key count, then
    per-bucket fold); the report is at most 64 rows."""
    counts = df.groupBy(F.col(key_col).alias("k")).agg(F.count("*").alias("c"))
    bucket = (
        F.length(F.conv(F.col("c").cast("string"), 10, 2)) - 1
    ).cast("int")
    return (
        counts.groupBy(bucket.alias("bucket"))
        .agg(
            F.count("*").alias("n_keys"),
            F.sum("c").alias("n_rows"),
            F.min("c").alias("min_count"),
            F.max("c").alias("max_count"),
        )
    )


def funnel_stages(
    df: DataFrame,
    stages: list,
    user_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
    tiebreak_col: str = "event_id",
) -> DataFrame:
    """Ordered funnel analysis -> (user, reached): how far each user got
    through `stages` as an in-order SUBSEQUENCE of their event stream
    (view -> click -> purchase etc.; other events may interleave) — the
    conversion query behind every product-analytics dashboard.

    Mechanics: each user's events fold into one ordered array via
    array_sort on (ts, tiebreak, type) structs — deterministic total
    order, no collect_list ordering gamble — then a single linear
    aggregate walks the array advancing a stage cursor (match the next
    wanted stage, ignore everything else). `reached` = stages completed
    (0..len(stages)).

    Plan: ONE partial-agg groupBy on the user key (collect + fold are the
    same aggregate); the walk is per-user O(events), map-side JVM lambda
    (no UDF, no explode). Skew bound = hottest user's event count."""
    ev = df.select(
        F.col(user_col).alias("user"),
        F.struct(
            F.col(ts_col).alias("ts"),
            F.col(tiebreak_col).alias("tb"),
            F.col(type_col).alias("et"),
        ).alias("s"),
    )
    seq = ev.groupBy("user").agg(
        F.array_sort(F.collect_list("s")).alias("seq")
    )
    want = F.array(*[F.lit(s) for s in stages])
    reached = F.aggregate(
        F.col("seq"),
        F.lit(0),
        lambda acc, x: F.when(
            (acc < F.size(want)) & (x["et"] == F.element_at(want, acc + 1)),
            acc + 1,
        ).otherwise(acc),
    )
    return seq.select("user", reached.cast("int").alias("reached"))


def cohort_retention(
    df: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
) -> DataFrame:
    """Cohort retention matrix -> (cohort_week, week_offset, n_users):
    users grouped by first-activity week, counted per subsequent active
    week offset — THE growth-analytics table.

    Plan: per-user first week is one partial-agg min on the user key;
    (user, week) activity dedups in the same shuffle family; the matrix
    fold is a (cohort, offset) partial agg over user-distinct rows. Week
    buckets via date_trunc('week') (ISO Monday start in both Spark and
    DuckDB); offset in whole weeks from the epoch-day difference (integer
    path — no interval-division float edge)."""
    weeks = df.select(
        F.col(user_col).alias("user"),
        F.date_trunc("week", F.col(ts_col)).cast("date").alias("week"),
    ).distinct()
    first = weeks.groupBy("user").agg(F.min("week").alias("cohort_week"))
    return (
        weeks.join(first, "user")
        .select(
            # ISO string, not DATE: computed dates round-trip differently
            # through arrow/pandas in different engines; the label is the
            # contract, not the physical date type
            F.col("cohort_week").cast("string").alias("cohort_week"),
            (F.datediff(F.col("week"), F.col("cohort_week")) / 7)
            .cast("int")
            .alias("week_offset"),
        )
        .groupBy("cohort_week", "week_offset")
        .agg(F.count("*").alias("n_users"))
    )


def state_dwell_time(
    scd2: DataFrame,
    key_col: str = "user_id",
    state_col: str = "state",
    from_col: str = "valid_from",
    to_col: str = "valid_to",
) -> DataFrame:
    """Dwell-time rollup over an SCD2 history (scd2_history's output) ->
    (key, state, n_intervals, total_micros, share): how long each key
    spent in each state across its CLOSED intervals (open intervals — null
    valid_to — have no duration yet and are excluded; keys with only open
    intervals drop out).

    Durations are MICROSECONDS (timestampdiff(MICROSECOND) — exact integer
    arithmetic; a seconds unit would force a truncate-vs-boundary-crossing
    choice that engines disagree on); no float until the final share
    division, round 8. Plan: one partial-agg groupBy on (key, state) + a
    key-total window on the same key — co-partitioned."""
    closed = scd2.filter(F.col(to_col).isNotNull()).select(
        F.col(key_col).alias("key"),
        F.col(state_col).alias("state"),
        # timestampdiff, not a cast-to-long — TIMESTAMP_NTZ (what parquet
        # event logs carry) refuses the epoch cast in Spark 4
        F.expr(f"timestampdiff(MICROSECOND, {from_col}, {to_col})")
        .cast("long")
        .alias("us"),
    )
    per = closed.groupBy("key", "state").agg(
        F.count("*").cast("int").alias("n_intervals"),
        F.sum("us").alias("total_micros"),
    )
    w = Window.partitionBy("key")
    return per.select(
        "key",
        "state",
        "n_intervals",
        "total_micros",
        F.round(
            F.col("total_micros") / F.sum("total_micros").over(w), 8
        ).alias("share"),
    )


def sample_weighted(
    df: DataFrame,
    k: int,
    weight_col: str,
    id_col: str = "doc_id",
) -> DataFrame:
    """Deterministic weighted sampling without replacement -> the k rows
    (id, weight, key) with the largest A-Res keys (Efraimidis-Spirakis):
    key = u^(1/w) with u a uniform draw — items are included with
    probability proportional to weight, exactly the "sample important
    documents more" primitive (length-weighted, quality-weighted).

    The uniform draw is md5-derived — u = (bucket32 + 1) / 2^32 in (0, 1]
    — so like every sampler here there is NO RNG: re-runs, re-partitions
    and resumed jobs pick the same sample, and any engine with md5
    reproduces it. Rows with weight <= 0 are excluded (they'd never be
    sampled in the limit anyway). The key rounds to 8 (pow is the one
    op JVM and other engines may differ on by an ulp) and ties break on
    id, so the top-k cut is total.

    Plan: map-side key computation + TakeOrderedAndProject (each
    partition keeps k candidates, the driver merges k-sized heaps) — no
    global sort, no shuffle of the table."""
    bucket = F.conv(
        F.substring(F.md5(F.concat(F.col(id_col).cast("string"), F.lit(":wrs"))), 1, 8),
        16,
        10,
    ).cast("long")
    u = (bucket + 1) / F.lit(4294967296.0)
    w = F.col(weight_col).cast("double")
    key = F.round(F.pow(u, F.lit(1.0) / w), 8)
    return (
        df.filter(w > 0)
        .select(F.col(id_col), w.alias("weight"), key.alias("key"))
        .orderBy(F.desc("key"), F.col(id_col))
        .limit(k)
    )


def event_transitions(
    df: DataFrame,
    user_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
    tiebreak_col: str = "event_id",
) -> DataFrame:
    """First-order Markov transition matrix over per-user event streams ->
    (from_type, to_type, n, prob): how often event A is immediately
    followed by event B within the same user's timeline, and the
    row-normalized transition probability — the "what do users do next"
    table behind path analysis and next-action models.

    Mechanics: one window per user ordered by (ts, tiebreak) — the
    tiebreak totalizes equal timestamps so both engines pair the same
    neighbors — lead() the type, drop stream-final events, then a
    (from, to) partial-agg count. prob = n / row total via a window on
    from_type (the event-type domain is tiny — that window's shuffle is
    trivial), round 8.

    Plan: ONE user-key window shuffle (skew bound = hottest user), then a
    map-side-combinable groupBy on the pair; never materializes per-pair
    event lists."""
    w = Window.partitionBy(user_col).orderBy(ts_col, tiebreak_col)
    pairs = (
        df.select(
            F.col(type_col).alias("from_type"),
            F.lead(type_col).over(w).alias("to_type"),
        )
        .filter(F.col("to_type").isNotNull())
        .groupBy("from_type", "to_type")
        .agg(F.count("*").alias("n"))
    )
    tot = Window.partitionBy("from_type")
    return pairs.select(
        "from_type",
        "to_type",
        "n",
        F.round(F.col("n") / F.sum("n").over(tot), 8).alias("prob"),
    )


def gapfill_daily(
    df: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
) -> DataFrame:
    """Calendar gap-fill -> (user, day, n_events, day_value, carried):
    each user's daily activity re-sampled onto a dense per-user day spine
    (min..max active day), with zero-filled counts and the last observed
    daily value carried forward across silent days — the resample step
    every time-series feature pipeline needs before fixed-stride models.

    Days are ISO strings in the output (computed DATE columns round-trip
    differently through Arrow in different engines; the label is the
    contract). The forward fill is the engine-portable gaps-and-islands
    form — grp = running count of non-null observations, carried =
    max(day_value) within (user, grp) — identical semantics to
    last_value IGNORE NULLS without depending on either engine's
    IGNORE NULLS support.

    Plan: the daily rollup is one partial-agg groupBy on (user, day); the
    spine is sequence()+explode per user (rows out = user's active span in
    days — no global calendar cross join); the fill is two windows on the
    user key, co-partitioned with the spine join. Skew bound = longest
    single-user span."""
    daily = (
        df.select(
            F.col(user_col).alias("user"),
            F.col(ts_col).cast("date").alias("day"),
            F.col(value_col).alias("value"),
        )
        .groupBy("user", "day")
        .agg(
            F.count("*").cast("int").alias("n_events"),
            F.round(F.sum("value"), 8).alias("day_value"),
        )
    )
    spine = daily.groupBy("user").agg(
        F.explode(F.sequence(F.min("day"), F.max("day"))).alias("day")
    )
    filled = spine.join(daily, ["user", "day"], "left")
    w = Window.partitionBy("user").orderBy("day")
    grp = F.sum(
        F.when(F.col("day_value").isNotNull(), 1).otherwise(0)
    ).over(w)
    filled = filled.withColumn("grp", grp)
    wg = Window.partitionBy("user", "grp")
    return filled.select(
        "user",
        F.col("day").cast("string").alias("day"),
        F.coalesce("n_events", F.lit(0)).alias("n_events"),
        "day_value",
        F.max("day_value").over(wg).alias("carried"),
    )


def ewma_smooth(
    df: DataFrame,
    alpha: float = 0.3,
    user_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
    tiebreak_col: str = "event_id",
) -> DataFrame:
    """Per-key exponentially weighted moving average -> (user, n_events,
    ewma): the recursive smooth s_i = alpha*x_i + (1-alpha)*s_{i-1},
    seeded s_1 = x_1, folded over each user's time-ordered values — the
    state a streaming anomaly detector would carry, computed batch.

    The recurrence is inherently sequential per key, so the shape is:
    collect each user's (ts, tiebreak, value) structs, array_sort (a
    deterministic total order — no collect_list ordering gamble), then
    ONE map-side F.aggregate fold in the JVM (no UDF, no explode,
    identical left-to-right IEEE order to the oracle's list_reduce).
    Round 8 absorbs nothing here — both engines fold the same order —
    but keeps the column convention.

    Plan: one partial-agg groupBy on the user key; per-user state is the
    user's event array (skew bound = hottest user, same bound as any
    sessionization); nothing else shuffles."""
    ev = df.select(
        F.col(user_col).alias("user"),
        F.struct(
            F.col(ts_col).alias("ts"),
            F.col(tiebreak_col).alias("tb"),
            F.col(value_col).cast("double").alias("v"),
        ).alias("s"),
    )
    seq = ev.groupBy("user").agg(
        F.transform(
            F.array_sort(F.collect_list("s")), lambda s: s["v"]
        ).alias("vals")
    )
    a = F.lit(float(alpha))
    ewma = F.aggregate(
        F.slice(F.col("vals"), 2, F.greatest(F.size("vals") - 1, F.lit(0))),
        F.element_at(F.col("vals"), 1),
        lambda acc, x: a * x + (F.lit(1.0) - a) * acc,
    )
    return seq.select(
        "user",
        F.size("vals").alias("n_events"),
        F.round(ewma, 8).alias("ewma"),
    )


def profile_columns(df: DataFrame, cols: list) -> DataFrame:
    """Column profiling -> (column, n_rows, n_nulls, n_distinct, min_str,
    max_str): the data-quality summary a pipeline gate reads before
    training ingestion (null-rate regressions, cardinality drift,
    out-of-range values).

    Per column: ONE partial-aggregated groupBy on the column's values
    (map-side dedup+count) feeding a one-row fold — n_rows is the sum of
    value counts, nulls the null bucket, the exact distinct a count of
    the non-null groups, min/max ride the same tiny table. The per-column
    branches union into the long layout. This replaces the r06
    single-pass multi-distinct aggregate, whose Expand replicated every
    row (4 x n_cols + 1) times before the hash aggregate — the per-column
    scans each read ONE pruned column and their shuffles carry only
    distinct values (still exact; swap in approx_count_distinct when
    profiling at full 100-TB scale). min/max cast to string so
    heterogeneous column types share one schema."""
    parts = []
    for c in cols:
        vals = (
            df.select(F.col(c).alias("_v"))
            .groupBy("_v")
            .agg(F.count(F.lit(1)).alias("_cnt"))
        )
        parts.append(
            vals.agg(
                F.coalesce(F.sum("_cnt"), F.lit(0)).alias("n_rows"),
                F.coalesce(
                    F.sum(F.when(F.col("_v").isNull(), F.col("_cnt"))), F.lit(0)
                ).alias("n_nulls"),
                F.count(F.col("_v")).alias("n_distinct"),
                F.min("_v").cast("string").alias("min_str"),
                F.max("_v").cast("string").alias("max_str"),
            ).select(
                F.lit(c).alias("column"),
                "n_rows",
                "n_nulls",
                "n_distinct",
                "min_str",
                "max_str",
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def sample_temperature(
    df: DataFrame,
    target_fraction: float = 0.5,
    domain_col: str = "source",
    id_col: str = "doc_id",
) -> DataFrame:
    """Temperature-rebalanced domain sampling (alpha = 0.5, the classic
    multilingual-pretraining sqrt rebalance: big domains shrink, small
    domains keep relatively more — mBERT/XLM-R's exponent): sample the
    corpus down to ~target_fraction of its rows with per-domain keep
    rates proportional to sqrt(n_d)/n_d.

        rate_d = min(1, round(N_target * sqrt(n_d)/sum_sqrt / n_d, 6))

    sqrt is IEEE-correctly-rounded in every engine (unlike pow), the rate
    rounds to 6 decimals, and acceptance compares the doc's md5 bucket
    MOD 1e6 against the integer micro-threshold round(rate*1e6) — so the
    accept set is integer-exact cross-engine (the sample_mixture
    discipline, micro-units instead of 2^32 because the rate here is
    data-derived float math, not a caller literal). No RNG anywhere:
    re-runs and re-partitions keep the same documents.

    Plan: one domain-cardinality partial-agg groupBy + a one-row
    broadcast total; the corpus is filtered in a single map-side pass
    with the broadcast rate map — never shuffled."""
    counts = df.groupBy(domain_col).agg(F.count("*").alias("_n"))
    tot = counts.agg(
        F.sum(F.sqrt(F.col("_n").cast("double"))).alias("_sw"),
        F.floor(F.sum("_n") * F.lit(float(target_fraction)))
        .cast("long")
        .alias("_nt"),
    )
    rates = counts.crossJoin(F.broadcast(tot)).select(
        domain_col,
        F.least(
            F.lit(1.0),
            F.round(
                F.col("_nt")
                * F.sqrt(F.col("_n").cast("double"))
                / F.col("_sw")
                / F.col("_n"),
                6,
            ),
        ).alias("_rate"),
    )
    thr = rates.select(
        domain_col,
        F.round(F.col("_rate") * F.lit(1000000.0), 0).cast("long").alias("_thr"),
    )
    bucket = (
        F.conv(F.substring(F.md5(F.col(id_col).cast("string")), 1, 8), 16, 10)
        .cast("long")
        % 1000000
    )
    return (
        df.join(F.broadcast(thr), domain_col)
        .filter(bucket < F.col("_thr"))
        .select(F.col(id_col), F.col(domain_col))
    )


def vocab_oov_rate(
    df: DataFrame,
    vocab_size: int = 1000,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Tokenizer-prep vocabulary coverage -> (id, n_tokens, n_oov,
    oov_rate): build the top-`vocab_size` term vocabulary by corpus
    frequency (ties on term) and measure each document's out-of-
    vocabulary rate — the feasibility check run before committing a
    tokenizer vocab (high OOV = wasted UNK mass).

    Plan: explode -> term partial-agg count (the token_freq_score shuffle
    shape); the vocab cut is TakeOrderedAndProject (top-V per partition,
    driver merge — no global sort, no SinglePartition window); membership
    is a broadcast left join of the token stream against the V-row vocab;
    the per-doc fold is one partial-agg groupBy on the doc key."""
    # tokenize once (lazy checkpoint of the per-doc arrays): the corpus
    # frequency pass and the membership join both read the token stream
    tok_arr = df.select(
        F.col(id_col),
        F.filter(
            F.split(F.lower(F.col(text_col)), r"\W+"), lambda x: x != ""
        ).alias("_toks"),
    ).transform(cut)
    toks = tok_arr.select(id_col, F.explode("_toks").alias("term"))
    tf = toks.groupBy("term").agg(F.count("*").alias("tf"))
    vocab = (
        tf.orderBy(F.desc("tf"), F.col("term"))
        .limit(vocab_size)
        .select("term", F.lit(1).alias("_inv"))
    )
    return (
        toks.join(F.broadcast(vocab), "term", "left")
        .groupBy(id_col)
        .agg(
            F.count("*").cast("int").alias("n_tokens"),
            F.sum(F.when(F.col("_inv").isNull(), 1).otherwise(0))
            .cast("int")
            .alias("n_oov"),
        )
        .select(
            id_col,
            "n_tokens",
            "n_oov",
            F.round(F.col("n_oov") / F.col("n_tokens"), 8).alias("oov_rate"),
        )
    )


def winsorize(
    df: DataFrame,
    value_col: str,
    group_col: str | None = None,
    lower: float = 0.01,
    upper: float = 0.99,
) -> DataFrame:
    """Winsorization -> (group, id cols..., value, lo, hi, clipped): clip
    each value into its group's [p_lower, p_upper] percentile band — the
    outlier-taming step feature pipelines run before scaling (a fat-tail
    value no longer dominates a mean or a normalizer).

    Thresholds are EXACT linear-interpolated percentiles (Spark
    percentile() == DuckDB quantile_cont definition), rounded to 6 so the
    clip comparisons are engine-stable. Exact percentile buffers each
    group's values — right for bounded groups (the fixture's priority
    classes); at full 100-TB scale swap percentile for approx_percentile
    and keep the identical clip plan (documented trade, the
    profile_columns discipline).

    Plan: one tiny per-group aggregate, broadcast back onto the table,
    clip map-side — the corpus never shuffles."""
    g = (F.col(group_col) if group_col else F.lit("all")).alias("grp")
    pct = df.groupBy(g).agg(
        F.round(F.expr(f"percentile({value_col}, {lower})"), 6).alias("lo"),
        F.round(F.expr(f"percentile({value_col}, {upper})"), 6).alias("hi"),
    )
    v = F.col(value_col)
    return (
        df.select("*", g)
        .join(F.broadcast(pct), "grp")
        .select(
            *df.columns,
            "lo",
            "hi",
            F.least(F.greatest(v, F.col("lo")), F.col("hi")).alias("clipped"),
        )
    )
