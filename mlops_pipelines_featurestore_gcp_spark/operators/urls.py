"""URL canonicalization and host-level dedup/downsampling.

The cheapest dedup tier in a web-scale training-data pipeline runs
BEFORE any content pass: collapse URL variants that name the same page
(scheme, ``www.``, default ports, tracking parameters, fragments,
slash noise — the RFC 3986 §6 normalizations plus the tracker strip
every production crawler applies, cf. CCNet/RefinedWeb host-level
stages), then dedup on the canonical form and cap documents per host.
Everything here is pure built-in string/array expressions — JVM-side,
whole-stage-codegen, zero Python — and every operator is one keyed
window over the canonical key or the host, so the 100 TB plan is one
shuffle each.

Reference tie-in: the reference ingests raw corpora by URI into
BigQuery (``load_component.py:37-50`` — ``load_table_from_uri`` with a
source-format config) and delegates every dedup/provenance decision to
the warehouse; this module is the engine-native canonical-URL tier such
a pipeline needs at crawl scale.

Skew note (100 TB): the dedup keeper is a map-side-combining aggregate
plus an AQE-splittable join (never a hot-key window), and the host cap
AUTO-SALTS (round 12): a cheap md5-row-probe estimates the largest
host's row count and flips to the q37 two-phase salted rank when it
exceeds ``AUTO_SALT_MAX_HOST_ROWS`` — mega-hosts are the EXPECTED shape
of a real crawl, so the scale-safe plan must not hide behind a flag a
caller has to know about. Both cap paths are bit-equal (pinned by
test); the probe's estimate only ever changes the PLAN, never a value.

NULL handling (ADVICE r11, medium): a NULL url cannot assert identity —
NULL-url rows are always kept (``kept``/``host_kept`` = 1, ``dup_of``
NULL) and never vanish; the keeper join is null-safe so the one-row-per-
input-row contract holds on real crawl data where missing URLs occur.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from mlops_pipelines_featurestore_gcp_spark.functions.text import md5_long

# One param per `&`-separated pair: click-identifier and campaign-tag
# parameters carry no content identity. Kept deliberately short and
# mirrored VERBATIM in every oracle twin (plans/llm_data.py d11).
TRACKING_PARAM_RE = "^(utm_[a-z]+|gclid|fbclid|msclkid|ref)="

# host-cap auto-salting (round 12): estimated max-host-rows threshold at
# which the one-window cap flips to the q37 two-phase salted rank. A
# window's per-host state is tiny (one long per row) and spills
# correctly, so the bound is task-skew wall time, not memory: 4M rows
# through one task is minutes while its 999 sibling cores idle.
# Rationale + measurement in SCALING.md (d11 family).
AUTO_SALT_MAX_HOST_ROWS = 4_000_000
# 1-in-128 deterministic md5 row probe: a threshold-sized host yields
# ~31k probe rows, so detection error at the boundary is ±~1% — and a
# wrong call near the boundary only picks the other BIT-EQUAL plan.
SALT_PROBE_MOD = 128


def host_of(url: Column) -> Column:
    """Lowercased host of a URL, scheme/port/``www.`` stripped.

    Pure regex pipeline (each step expressible in both Java regex and
    RE2, so oracle twins replay it): drop fragment, drop scheme, take
    up to the first ``/``, decode unreserved %-encodings, THEN
    lowercase (RFC 3986 §6.2.2 orders decode before case-folding, else
    ``X%41.com`` canonicalizes to ``xA.com`` and never matches
    ``xa.com`` — found by the r12 seeded fuzz), strip default port,
    strip a leading ``www.``. The decode runs on the EXTRACTED hostport
    only — real hosts almost never carry %-encodings, so the
    ``contains('%')`` guard skips the replace chain on virtually every
    row (decoding the full raw url here tripled d11's bench cost: the
    chain ran on scheme+host+path+query, twice per call site).
    """
    u = F.regexp_replace(url, "#.*$", "")
    u = F.regexp_replace(u, "^[a-zA-Z][a-zA-Z0-9+.-]*://", "")
    hostport = F.lower(_decode_guarded(F.regexp_extract(u, "^[^/?]*", 0)))
    host = F.regexp_replace(hostport, ":(80|443)$", "")
    return F.regexp_replace(host, "^www\\.", "")


def canonical_url(url: Column) -> Column:
    """Canonical form: ``host + normalized-path [+ '?' + kept-params]``.

    Normalizations (RFC 3986 §6 syntax-based, plus the tracker strip):
    fragment dropped; scheme dropped (http/https name the same page for
    dedup purposes); host lowercased, default port and ``www.``
    stripped; duplicate slashes collapsed and the trailing slash
    dropped; query params with tracking keys removed, the survivors
    sorted (param order never changes identity) and rejoined.

    Percent-encoding normalization (round 12, RFC 3986 §6.2.2.2): the
    bounded unreserved-char decode table (ALPHA / DIGIT / ``-._~``, both
    hex-digit cases) is applied BEFORE any case-folding, splitting, or
    sorting — §6.2.2 orders decode first, and the r12 seeded fuzz
    proved why twice over: decoding after the host lowercase turned
    ``X%41.com`` into ``xA.com`` (not a fixpoint, never dedups against
    ``xa.com``), and decoding after the param sort would order
    ``?a=1&%62=2`` differently from its decoded twin ``?a=1&b=2``.
    Decode-then-parse is safe because an unreserved decode can never
    produce a structural character (``/ ? # & = :``) — those are
    reserved encodings (``%2F``, …) and stay. COST placement: the chain
    runs on the extracted path+query slice (and, in ``host_of``, on the
    extracted hostport, where the guard almost never fires) — never on
    the full raw url, which ran it up to 4× per row across the keeper
    join's branches and tripled d11's bench cost. Each chain is literal
    ``replace`` calls guarded by one ``contains('%')`` test — the
    common no-encoding row never executes it.
    """
    u = F.regexp_replace(url, "#.*$", "")
    u = F.regexp_replace(u, "^[a-zA-Z][a-zA-Z0-9+.-]*://", "")
    pq = F.regexp_replace(u, "^[^/?]*", "")
    # decode each piece exactly ONCE at its single point of use —
    # expressions are trees, not DAGs, and this stage is CodegenFallback
    # (the filter lambda), so a decode placed on a reused subtree (pq)
    # re-evaluates per consumer with no CSE: measured 2.4× on d11's
    # bench. Splitting on raw text is safe: '?' / '&' stay encoded
    # (%3F/%26 are reserved), and decode can't produce '/' so the
    # slash-collapse commutes with it.
    path = F.regexp_extract(pq, "^[^?]*", 0)
    path = F.regexp_replace(path, "/{2,}", "/")
    path = _decode_guarded(F.regexp_replace(path, "/+$", ""))
    query = F.regexp_replace(pq, "^[^?]*\\??", "")
    kept = F.filter(
        F.transform(F.split(query, "&"), _decode_unreserved),
        lambda p: (p != F.lit("")) & ~p.rlike(TRACKING_PARAM_RE),
    )
    qcanon = F.array_join(F.array_sort(kept), "&")
    return F.concat(
        host_of(url),
        path,
        F.when(qcanon == "", F.lit("")).otherwise(F.concat(F.lit("?"), qcanon)),
    )


def _decode_guarded(col: Column) -> Column:
    """`_decode_unreserved` behind one ``contains('%')`` test — the
    common no-encoding row skips the whole replace chain."""
    return F.when(~col.contains("%"), col).otherwise(_decode_unreserved(col))


def _decode_unreserved(col: Column) -> Column:
    """Decode ``%XX`` percent-encodings of RFC 3986 unreserved characters
    (hex case-insensitive) — split-on-``%`` + one literal-map lookup per
    piece.

    The first implementation chained 74 nested ``replace`` calls; that
    expression tree knocked the ENTIRE enclosing projection out of
    whole-stage codegen (every row paid interpreted evaluation, decoded
    or not — d11's bench cost tripled). This form splits once, then for
    each subsequent piece looks up its upper-cased first two chars in a
    constant-folded 66-entry map: decoded char + rest when it is an
    unreserved code, ``%`` + piece verbatim otherwise. The ``transform``
    lambda is CodegenFallback, but its tree is tiny and per-piece (a
    typical URL has 0-3 ``%``s), and the surrounding stage keeps
    whole-stage codegen. Equivalent to the replace chain on every
    input: replacements only ever produce unreserved characters (never
    ``%``), so every decodable triplet's ``%`` exists in the original
    string and is exactly a piece boundary. ``%25`` and all other
    reserved codes miss the map and survive; a decoded char can never
    create a new triplet, so one pass is a fixpoint (idempotence pinned
    by test and a 2000-URL seeded fuzz)."""
    parts = F.split(col, "%", -1)
    head = F.element_at(parts, 1)
    tail = F.slice(parts, 2, F.greatest(F.size(parts) - 1, F.lit(0)))

    def piece(p: Column) -> Column:
        # arithmetic decode — hex pair → byte → unreserved range test →
        # char(b). Constant-size tree per piece: a 66-entry create_map
        # here was rebuilt PER EVALUATION in this (CodegenFallback)
        # stage and dominated d11's canonicalization cost.
        code = F.substring(p, 1, 2)
        b = F.conv(code, 16, 10).cast("int")
        unreserved = (
            ((b >= 48) & (b <= 57))        # 0-9
            | ((b >= 65) & (b <= 90))      # A-Z
            | ((b >= 97) & (b <= 122))     # a-z
            | b.isin(45, 46, 95, 126)      # - . _ ~
        )
        ok = code.rlike("^[0-9A-Fa-f]{2}$") & unreserved
        return F.when(
            ok, F.concat(F.char(b), F.substring(p, 3, 2147483646))
        ).otherwise(F.concat(F.lit("%"), p))

    return F.concat(head, F.array_join(F.transform(tail, piece), ""))


def url_dedup_keep_first(
    df: DataFrame,
    *,
    url_col: str = "url",
    id_col: str = "doc_id",
    canon_col: str = "canonical_url",
    skew_safe: bool = True,
) -> DataFrame:
    """One row per input row: ``kept`` = 1 for the smallest id of each
    canonical-URL group, ``dup_of`` = that smallest id for the rest
    (NULL for kept rows) — the d01/d08 keep-best shape on the canonical
    key.

    NULL urls (ADVICE r11): a NULL url has no identity to dedup on, so
    the row is KEPT (``kept`` = 1, ``dup_of`` NULL) — never grouped with
    other NULLs, never dropped. The keeper join is null-safe
    (``eqNullSafe``) so the one-row-per-input-row contract holds.

    ``skew_safe=True`` (default — the 100 TB plan): the keeper comes
    from a ``groupBy().min()`` + equi-join back, NOT a windowed min: a
    window sends every row of a hot canonical URL (one page re-crawled
    10⁷ times — routine in a crawl corpus) through one task with no
    partial combine, while the aggregate combines map-side and AQE
    splits a skewed join key. Two skew-immune shuffles instead of one
    skew-fragile one — the cost is that the canonicalization map runs on
    both join branches (embarrassingly parallel; the skew it removes is
    not). ``skew_safe=False`` is the single-window fast path for inputs
    KNOWN to have no hot canonical key (bit-equal output, pinned by
    test)."""
    out = df.withColumn(canon_col, canonical_url(F.col(url_col)))
    if skew_safe:
        keepers = out.groupBy(canon_col).agg(F.min(id_col).alias("__keeper"))
        joined = out.join(
            keepers.withColumnRenamed(canon_col, "__ck"),
            F.col(canon_col).eqNullSafe(F.col("__ck")),
        ).drop("__ck")
    else:
        joined = out.withColumn(
            "__keeper", F.min(id_col).over(Window.partitionBy(canon_col))
        )
    null_canon = F.col(canon_col).isNull()
    return (
        joined.withColumn(
            "kept",
            F.when(null_canon, F.lit(1)).otherwise(
                (F.col(id_col) == F.col("__keeper")).cast("int")
            ),
        )
        .withColumn(
            "dup_of",
            F.when(~null_canon & (F.col(id_col) != F.col("__keeper")), F.col("__keeper")),
        )
        .drop("__keeper")
    )


def estimate_max_host_rows(
    df: DataFrame,
    *,
    host_col: str = "host",
    id_col: str = "doc_id",
    mod: int = SALT_PROBE_MOD,
) -> int:
    """Deterministic 1-in-``mod`` estimate of the largest host's row
    count: an md5 draw on the UNIQUE id picks the probe rows (layout-
    independent, never ``rand()``), one map-side-combining count over
    ~N/mod rows, scaled back by ``mod``. The probe is the cheap host-
    count sketch the auto-salting decision reads; it shuffles 1/mod of
    the (host, count) mass an exact count would."""
    probe = df.where(
        md5_long(F.concat(F.lit("salt-probe|"), F.col(id_col).cast("string")), bits=60)
        % mod
        == 0
    )
    row = probe.groupBy(host_col).count().agg(F.max("count").alias("m")).first()
    return int(row["m"] or 0) * mod


def host_downsample(
    df: DataFrame,
    *,
    url_col: str = "url",
    id_col: str = "doc_id",
    cap: int = 100,
    salt: str = "host-ds",
    host_col: str = "host",
    salted: bool | None = None,
    auto_salt_threshold: int = AUTO_SALT_MAX_HOST_ROWS,
) -> DataFrame:
    """Cap documents per host at ``cap``, chosen by a deterministic
    md5 draw (never ``rand()``): rank within host by
    ``(md5(salt|id), id)`` and keep rank ≤ cap — an unbiased,
    replayable per-host sample (the RefinedWeb host-budget stage).
    Adds ``host`` and ``host_kept``; one row per input row either way.
    NULL urls have no host — their rows keep ``host_kept`` = 1 and never
    consume any host's budget (the url_dedup_keep_first posture).

    ``salted=None`` (default, round 12): AUTO — a 1-in-128 md5 row probe
    (:func:`estimate_max_host_rows`) estimates the largest host and
    flips to the salted plan past ``auto_salt_threshold``
    (`AUTO_SALT_MAX_HOST_ROWS`; rationale in SCALING.md). The probe runs
    one tiny eager job at plan-build time; since both plans are
    bit-equal, a boundary misestimate can only pick the other CORRECT
    plan. ``salted=False``: one host-keyed window — right while every
    host's rows fit one task. ``salted=True``: the q37 two-phase salted
    rank (``skew.salted_topk`` — mega-hosts are the EXPECTED shape of a
    real crawl) picks the identical keeper set (total order ⇒
    exactness), then one equi-join on the UNIQUE id (skew-free by
    construction) attaches the flag. Bit-equal outputs, pinned by
    test."""
    out = df.withColumn(host_col, host_of(F.col(url_col)))
    if salted is None:
        salted = (
            estimate_max_host_rows(out, host_col=host_col, id_col=id_col)
            > auto_salt_threshold
        )
    draw = md5_long(
        F.concat(F.lit(salt + "|"), F.col(id_col).cast("string")), bits=60
    )
    null_host = F.col(host_col).isNull()
    if not salted:
        w = Window.partitionBy(host_col).orderBy(draw.asc(), F.col(id_col).asc())
        return out.withColumn(
            "host_kept",
            F.when(null_host, F.lit(1)).otherwise(
                (F.row_number().over(w) <= cap).cast("int")
            ),
        )
    from mlops_pipelines_featurestore_gcp_spark.operators.skew import salted_topk

    survivors = salted_topk(
        out.where(~null_host).withColumn("__draw", draw), host_col,
        [F.col("__draw").asc(), F.col(id_col).asc()], k=cap,
    ).select(F.col(id_col).alias("__sid"))
    return (
        out.join(survivors, out[id_col] == survivors["__sid"], "left")
        .withColumn(
            "host_kept",
            F.when(null_host, F.lit(1)).otherwise(F.col("__sid").isNotNull().cast("int")),
        )
        .drop("__sid")
    )
