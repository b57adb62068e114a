"""DuckDB oracle twins for the training-data operators.

Each builder reproduces, bit-for-bit, the output of one operator in
``operators/{dedup,similarity,textstats,multimodal}.py`` over the same
parquet bytes. Constants (hash coefficients, band layout, thresholds,
stopword lists) are imported from the operator modules — one source of
truth; only the SQL dialect differs here (1-based list indexing,
list_* functions, explicit 'g' regexp flag).

Float determinism: every double is produced by the same fixed-order
IEEE-754 operations as the Spark side (sequential folds seeded with
0 via list_prepend; identical literal constants), so value hashes
match exactly — no tolerance needed.
"""

from __future__ import annotations

from logzilla_spark.functions.hashing import P31, hyperplanes, md5_long_sql, minhash_coeffs
from logzilla_spark.functions.vectors import IVF_FP_BITS
from logzilla_spark.operators import similarity
from logzilla_spark.operators.dedup import (
    COSINE_THRESHOLD,
    LSH_BANDS,
    LSH_ROWS,
    MAX_GRAM_DF,
    MAX_LSH_BUCKET,
    MAX_SIMHASH_HAMMING,
    MIN_EST_SIM,
    MIN_JACCARD,
    MIN_WORDGRAM_JACCARD,
    N_MINHASH,
    SHINGLE_N,
    SIMHASH_BITS,
    SIMHASH_BLOCKS,
    WORDGRAM_N,
)
from logzilla_spark.operators.urls import (
    DEFAULT_URL_BLOCKLIST,
    DOMAIN_RE,
    SCHEME_HOST_RE,
    TRACKING_PARAM_RE,
    _MICROS_SINCE_YEAR_1,
    blocklist_regex,
)
from logzilla_spark.operators.textstats import (
    BPE_EOW,
    BPE_RE,
    DSIR_BUCKETS,
    DUP_WINDOW,
    LANG_PRIORITY,
    MAX_LINE_DOCS,
    MIN_PAIR_FREQ,
    PACK_BUDGET,
    PACK_GROUPS,
    PII_EMAIL_RE,
    PII_IPV4_RE,
    PII_PHONE_RE,
    STOPWORDS,
)


def _rel(src: str) -> str:
    """Parquet path -> read_parquet(...); bare name -> pre-registered view."""
    return f"read_parquet('{src}')" if src.endswith(".parquet") else src


def _norm(col: str) -> str:
    return f"trim(regexp_replace(lower({col}), '\\s+', ' ', 'g'))"


def _shingles(n: str, k: int = SHINGLE_N) -> str:
    return (
        f"list_distinct([substring({n}, i, {k}) "
        f"FOR i IN range(1, greatest(length({n}) - {k - 1}, 1) + 1)])"
    )


def _wordgrams(t: str, n: int, strict: bool = False) -> str:
    """Twin of dedup._wordgrams_expr over a token-list column ``t``.
    ``strict`` emits NO grams for docs shorter than n tokens
    (benchmark_contamination's contract); the default keeps the
    jaccard operator's documented floor (short docs get one partial
    gram so equally-short docs can still pair)."""
    floor = (
        f"[array_to_string({t}[i:i + {n - 1}], ' ') "
        f"FOR i IN range(1, greatest(len({t}) - {n - 1}, 1) + 1)]"
    )
    if not strict:
        return f"list_distinct({floor})"
    return (
        f"(CASE WHEN len({t}) >= {n} THEN list_distinct({floor}) "
        f"ELSE [] END)"
    )


def _docs_cte(
    docs_path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    where: str | None = None,
) -> str:
    w = f" WHERE {where}" if where else ""
    return (
        f"docs AS (SELECT {id_col} AS id, {_norm(text_col)} AS n "
        f"FROM {_rel(docs_path)}{w})"
    )


# --------------------------------------------------------------------------
# dedup twins
# --------------------------------------------------------------------------


def exact_dedup_sql(docs_path: str) -> str:
    return f"""WITH {_docs_cte(docs_path)}
SELECT md5(n) AS content_hash, CAST(min(id) AS BIGINT) AS keeper_id,
       CAST(count(*) AS BIGINT) AS n_copies
FROM docs GROUP BY 1"""


def _sig_items() -> str:
    a, b = minhash_coeffs(N_MINHASH)
    return ", ".join(
        f"list_aggregate(list_transform(hs, h -> ({a[j]} * h + {b[j]}) % {P31}), 'min')"
        for j in range(N_MINHASH)
    )


def _sig_cte(docs_path: str) -> str:
    return f"""{_docs_cte(docs_path)},
hashed AS (
  SELECT id, list_transform({_shingles('n')}, s -> {md5_long_sql('s')} % {P31}) AS hs
  FROM docs
),
sigs AS (SELECT id, [{_sig_items()}] AS sig FROM hashed)"""


def minhash_signatures_sql(docs_path: str) -> str:
    cols = ", ".join(
        f"CAST(sig[{j + 1}] AS BIGINT) AS s{j:02d}" for j in range(N_MINHASH)
    )
    return f"WITH {_sig_cte(docs_path)}\nSELECT id, {cols} FROM sigs"


def _bands_cte(name: str = "bands", src: str = "sigs") -> str:
    bands = ", ".join(
        "{'band_id': %d, 'band_hash': %s}"
        % (
            k,
            md5_long_sql(
                "concat_ws('|', "
                + ", ".join(f"sig[{k * LSH_ROWS + r + 1}]" for r in range(LSH_ROWS))
                + ")"
            ),
        )
        for k in range(LSH_BANDS)
    )
    return f"""{name} AS (
  SELECT id, u.band_id AS band_id, u.band_hash AS band_hash
  FROM (SELECT id, unnest([{bands}]) AS u FROM {src})
)"""


def _minhash_verified_ctes(docs_path: str) -> str:
    """CTE chain ending in ``verified`` (pre-jaccard-threshold pairs);
    shared by minhash_lsh_pairs_sql and neardup_clusters_sql so both
    twins track ONE pair definition."""
    est = (
        f"len(list_filter(list_transform(range(1, {N_MINHASH + 1}), "
        f"j -> sa.sig[j] = sb.sig[j]), x -> x)) / {N_MINHASH}.0"
    )
    return f"""{_sig_cte(docs_path)},
{_bands_cte()},
kept_bands AS (
  SELECT * FROM bands
  QUALIFY count(*) OVER (PARTITION BY band_id, band_hash) <= {MAX_LSH_BUCKET}
),
cand AS (
  SELECT DISTINCT a.id AS doc_a, b.id AS doc_b
  FROM kept_bands a JOIN kept_bands b
    ON a.band_id = b.band_id AND a.band_hash = b.band_hash AND a.id < b.id
),
est AS (
  SELECT doc_a, doc_b, {est} AS est_sim
  FROM cand JOIN sigs sa ON cand.doc_a = sa.id JOIN sigs sb ON cand.doc_b = sb.id
),
sh AS (
  SELECT id,
         list_distinct(list_transform({_shingles('n')}, s -> {md5_long_sql('s')} % {P31})) AS g
  FROM docs
),
verified AS (
  SELECT doc_a, doc_b, est_sim,
         len(list_intersect(ga.g, gb.g)) AS inter_n,
         len(ga.g) + len(gb.g) - len(list_intersect(ga.g, gb.g)) AS union_n
  FROM est JOIN sh ga ON est.doc_a = ga.id JOIN sh gb ON est.doc_b = gb.id
  WHERE est_sim >= {MIN_EST_SIM}
)"""


def minhash_lsh_pairs_sql(docs_path: str) -> str:
    return f"""WITH {_minhash_verified_ctes(docs_path)}
SELECT CAST(doc_a AS BIGINT) AS doc_a, CAST(doc_b AS BIGINT) AS doc_b, est_sim,
       CAST(inter_n AS INT) AS inter_n, CAST(union_n AS INT) AS union_n,
       CAST(inter_n AS DOUBLE) / CAST(union_n AS DOUBLE) AS jaccard
FROM verified
WHERE CAST(inter_n AS DOUBLE) / CAST(union_n AS DOUBLE) >= {MIN_JACCARD}"""


def minhash_lsh_pairs_against_sql(docs_path: str, delta_where: str) -> str:
    """Twin of dedup.minhash_lsh_pairs_against: the docs relation split
    by ``delta_where`` into the new side (WHERE) and the reference
    corpus (WHERE NOT), banded per side, joined across — no
    corpus-corpus pairs; per-side QUALIFY bucket guard mirrors the
    operator's per-side window count."""
    est = (
        f"len(list_filter(list_transform(range(1, {N_MINHASH + 1}), "
        f"j -> sa.sig[j] = sb.sig[j]), x -> x)) / {N_MINHASH}.0"
    )

    def side(nm: str, where: str) -> str:
        return f"""docs_{nm} AS (SELECT * FROM docs WHERE {where}),
hashed_{nm} AS (
  SELECT id, list_transform({_shingles('n')}, s -> {md5_long_sql('s')} % {P31}) AS hs
  FROM docs_{nm}
),
sigs_{nm} AS (SELECT id, [{_sig_items()}] AS sig FROM hashed_{nm}),
{_bands_cte(name=f'bands_{nm}', src=f'sigs_{nm}')},
kept_{nm} AS (
  SELECT * FROM bands_{nm}
  QUALIFY count(*) OVER (PARTITION BY band_id, band_hash) <= {MAX_LSH_BUCKET}
),
sh_{nm} AS (
  SELECT id,
         list_distinct(list_transform({_shingles('n')}, s -> {md5_long_sql('s')} % {P31})) AS g
  FROM docs_{nm}
)"""

    return f"""WITH {_docs_cte(docs_path)},
{side('new', delta_where)},
{side('old', f'NOT ({delta_where})')},
cand AS (
  SELECT DISTINCT a.id AS doc_new, b.id AS doc_old
  FROM kept_new a JOIN kept_old b
    ON a.band_id = b.band_id AND a.band_hash = b.band_hash
),
est AS (
  SELECT doc_new, doc_old, {est} AS est_sim
  FROM cand JOIN sigs_new sa ON cand.doc_new = sa.id
            JOIN sigs_old sb ON cand.doc_old = sb.id
),
verified AS (
  SELECT doc_new, doc_old, est_sim,
         len(list_intersect(ga.g, gb.g)) AS inter_n,
         len(ga.g) + len(gb.g) - len(list_intersect(ga.g, gb.g)) AS union_n
  FROM est JOIN sh_new ga ON est.doc_new = ga.id
           JOIN sh_old gb ON est.doc_old = gb.id
  WHERE est_sim >= {MIN_EST_SIM}
)
SELECT CAST(doc_new AS BIGINT) AS doc_new, CAST(doc_old AS BIGINT) AS doc_old,
       est_sim,
       CAST(inter_n AS INT) AS inter_n, CAST(union_n AS INT) AS union_n,
       CAST(inter_n AS DOUBLE) / CAST(union_n AS DOUBLE) AS jaccard
FROM verified
WHERE CAST(inter_n AS DOUBLE) / CAST(union_n AS DOUBLE) >= {MIN_JACCARD}"""


def neardup_clusters_sql(docs_path: str) -> str:
    """Twin of cluster.neardup_clusters over minhash_lsh_pairs edges:
    cluster_id = min doc id in the connected component, computed as
    min over the recursive transitive closure of the undirected pair
    graph; singleton docs are their own cluster."""
    return f"""WITH RECURSIVE {_minhash_verified_ctes(docs_path)},
pairs AS (
  SELECT doc_a, doc_b FROM verified
  WHERE CAST(inter_n AS DOUBLE) / CAST(union_n AS DOUBLE) >= {MIN_JACCARD}
),
und AS (
  SELECT doc_a AS a, doc_b AS b FROM pairs
  UNION
  SELECT doc_b AS a, doc_a AS b FROM pairs
),
reach(id, r) AS (
  SELECT a, a FROM und
  UNION
  SELECT und.a, reach.r FROM und JOIN reach ON und.b = reach.id
),
cc AS (SELECT id, min(r) AS cluster_id FROM reach GROUP BY id)
SELECT CAST(d.id AS BIGINT) AS id,
       CAST(coalesce(cc.cluster_id, d.id) AS BIGINT) AS cluster_id,
       coalesce(cc.cluster_id, d.id) = d.id AS is_canonical
FROM docs d LEFT JOIN cc ON d.id = cc.id"""


def _fps_cte(docs_path: str) -> str:
    # Grouped-by-id, mirroring dedup.simhash_fingerprints' keyed
    # semantics exactly: duplicate-id rows merge into ONE fingerprint
    # over the combined token multiset (one output row per id), instead
    # of the old per-row form that emitted N diverging rows for N
    # duplicates. NULL-text docs vanish from the unnest, so the LEFT
    # JOIN from the distinct-id set restores them: every vote column is
    # NULL, every CASE falls to 0, fingerprint 0 — the same result as
    # Spark's explode_outer NULL-token row voting -1 on every bit.
    votes = ", ".join(
        f"sum(CASE WHEN (h >> {i}) & 1 = 1 THEN 1 ELSE -1 END) AS v{i}"
        for i in range(SIMHASH_BITS)
    )
    # bit 63 is BIGINT's sign bit: the literal mirrors dedup.py's
    # -(1 << 63) handling (exact for any bits <= 64).
    fp = " + ".join(
        f"CASE WHEN v{i} > 0 THEN ({(1 << i) if i < 63 else -(1 << 63)}::BIGINT) "
        "ELSE 0::BIGINT END"
        for i in range(SIMHASH_BITS)
    )
    return f"""{_docs_cte(docs_path)},
toks AS (
  SELECT id, {md5_long_sql('t')} AS h
  FROM (SELECT id, unnest(string_split(n, ' ')) AS t FROM docs)
),
votes AS (SELECT id, {votes} FROM toks GROUP BY id),
fps AS (
  SELECT d.id, CAST({fp} AS BIGINT) AS fingerprint
  FROM (SELECT DISTINCT id FROM docs) d LEFT JOIN votes USING (id)
)"""


def simhash_fingerprints_sql(docs_path: str) -> str:
    return f"WITH {_fps_cte(docs_path)}\nSELECT id, fingerprint FROM fps"


def simhash_pairs_sql(docs_path: str) -> str:
    width = SIMHASH_BITS // SIMHASH_BLOCKS
    mask = (1 << width) - 1
    blocks = ", ".join(
        f"{{'block_id': {b}, 'block_val': (fingerprint >> {width * b}) & {mask}}}"
        for b in range(SIMHASH_BLOCKS)
    )
    return f"""WITH {_fps_cte(docs_path)},
blocks AS (
  SELECT id, fingerprint, u.block_id AS block_id, u.block_val AS block_val
  FROM (SELECT id, fingerprint, unnest([{blocks}]) AS u FROM fps)
),
kept_blocks AS (
  SELECT * FROM blocks
  QUALIFY count(*) OVER (PARTITION BY block_id, block_val) <= {MAX_LSH_BUCKET}
)
SELECT DISTINCT a.id AS doc_a, b.id AS doc_b,
       CAST(bit_count(xor(a.fingerprint, b.fingerprint)) AS INT) AS hamming
FROM kept_blocks a JOIN kept_blocks b
  ON a.block_id = b.block_id AND a.block_val = b.block_val AND a.id < b.id
WHERE bit_count(xor(a.fingerprint, b.fingerprint)) <= {MAX_SIMHASH_HAMMING}"""


def ngram_jaccard_pairs_sql(
    docs_path: str,
    max_df: int | None = MAX_GRAM_DF,
    docs_cte: str | None = None,
) -> str:
    n = WORDGRAM_N
    grams = _wordgrams("t", n)
    # Stop-gram guard mirror (dedup.MAX_GRAM_DF): drop grams appearing
    # in more than max_df docs BEFORE the self-join; union sizes still
    # count the full gram set (sizes CTE is taken pre-guard), exactly
    # like the Spark side.
    guard = (
        f"\nkept AS (SELECT * FROM ex QUALIFY count(*) OVER (PARTITION BY gram) <= {max_df}),"
        if max_df is not None
        else "\nkept AS (SELECT * FROM ex),"
    )
    # docs_cte overrides the source relation ("docs AS (SELECT id, n
    # ...)") so pipeline compositions (curation_funnel_sql) can run the
    # same pair SQL over a staged SUBSET instead of the whole table
    return f"""WITH {docs_cte or _docs_cte(docs_path)},
toks AS (SELECT id, string_split(n, ' ') AS t FROM docs),
grams AS (SELECT id, {grams} AS g FROM toks),
sizes AS (SELECT id, len(g) AS sz FROM grams),
ex AS (SELECT id, unnest(g) AS gram FROM grams),{guard}
inter AS (
  SELECT a.id AS doc_a, b.id AS doc_b, CAST(count(*) AS BIGINT) AS inter_n
  FROM kept a JOIN kept b ON a.gram = b.gram AND a.id < b.id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b, inter_n,
       CAST(za.sz + zb.sz - inter_n AS BIGINT) AS union_n,
       CAST(inter_n AS DOUBLE) / CAST(za.sz + zb.sz - inter_n AS DOUBLE) AS jaccard
FROM inter JOIN sizes za ON inter.doc_a = za.id JOIN sizes zb ON inter.doc_b = zb.id
WHERE CAST(inter_n AS DOUBLE) / CAST(za.sz + zb.sz - inter_n AS DOUBLE)
      >= {MIN_WORDGRAM_JACCARD}"""


# --------------------------------------------------------------------------
# embedding twins
# --------------------------------------------------------------------------


def _dot_sql(x: str, y: str, dim: int) -> str:
    return (
        f"list_reduce(list_prepend(CAST(0 AS DOUBLE), "
        f"list_transform(range(1, {dim + 1}), "
        f"i -> CAST({x}[i] AS DOUBLE) * CAST({y}[i] AS DOUBLE))), "
        "(acc, v) -> acc + v)"
    )


def _cosine_sql(a: str, b: str, dim: int) -> str:
    return (
        f"{_dot_sql(a, b, dim)} / "
        f"sqrt({_dot_sql(a, a, dim)} * {_dot_sql(b, b, dim)})"
    )


def embedding_neardup_sql(emb_path: str, dim: int = similarity.EMB_DIM) -> str:
    cos = _cosine_sql("a.embedding", "b.embedding", dim)
    return f"""WITH e AS (SELECT vec_id, embedding FROM {_rel(emb_path)})
SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, {cos} AS cosine
FROM e a JOIN e b ON a.vec_id < b.vec_id
WHERE {cos} >= {COSINE_THRESHOLD}"""


def _bucket_sql(vec: str, n_planes: int, dim: int) -> str:
    hps = hyperplanes(n_planes, dim)
    terms = []
    for j, hp in enumerate(hps):
        lit = "[" + ", ".join(str(v) for v in hp) + "]"
        terms.append(
            f"CASE WHEN {_dot_sql(vec, lit, dim)} >= 0 "
            f"THEN {1 << j}::BIGINT ELSE 0::BIGINT END"
        )
    return " + ".join(terms)


def embedding_neardup_lsh_sql(
    emb_path: str,
    dim: int = similarity.EMB_DIM,
    n_planes: int = similarity.N_PLANES,
) -> str:
    cos = _cosine_sql("a.embedding", "b.embedding", dim)
    return f"""WITH e AS (
  SELECT vec_id, embedding, {_bucket_sql('embedding', n_planes, dim)} AS bucket
  FROM {_rel(emb_path)}
)
SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b, {cos} AS cosine
FROM e a JOIN e b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
WHERE {cos} >= {COSINE_THRESHOLD}"""


def cosine_topk_sql(
    emb_path: str,
    k: int = similarity.DEFAULT_K,
    probe_mod: int = 100,
    dim: int = similarity.EMB_DIM,
) -> str:
    cos = _cosine_sql("p.embedding", "c.embedding", dim)
    return f"""WITH e AS (SELECT vec_id, embedding FROM {_rel(emb_path)}),
p AS (SELECT * FROM e WHERE vec_id % {probe_mod} = 0)
SELECT p.vec_id AS probe_id, c.vec_id AS neighbor_id, {cos} AS cosine,
       CAST(row_number() OVER (PARTITION BY p.vec_id
                               ORDER BY {cos} DESC, c.vec_id) AS INT) AS rank
FROM p JOIN e c ON p.vec_id != c.vec_id
QUALIFY rank <= {k}"""


def cosine_topk_lsh_sql(
    emb_path: str,
    k: int = similarity.DEFAULT_K,
    probe_mod: int = 100,
    dim: int = similarity.EMB_DIM,
    n_planes: int = similarity.N_PLANES,
) -> str:
    cos = _cosine_sql("p.embedding", "c.embedding", dim)
    flips = ", ".join(
        ["bucket"] + [f"xor(bucket, {1 << j}::BIGINT)" for j in range(n_planes)]
    )
    return f"""WITH e AS (
  SELECT vec_id, embedding, {_bucket_sql('embedding', n_planes, dim)} AS bucket
  FROM {_rel(emb_path)}
),
p AS (
  SELECT vec_id, embedding, unnest([{flips}]) AS probe_bucket
  FROM e WHERE vec_id % {probe_mod} = 0
),
scored AS (
  SELECT DISTINCT p.vec_id AS probe_id, c.vec_id AS neighbor_id, {cos} AS cosine
  FROM p JOIN e c ON p.probe_bucket = c.bucket AND p.vec_id != c.vec_id
)
SELECT probe_id, neighbor_id, cosine,
       CAST(row_number() OVER (PARTITION BY probe_id
                               ORDER BY cosine DESC, neighbor_id) AS INT) AS rank
FROM scored
QUALIFY rank <= {k}"""


# --------------------------------------------------------------------------
# textstats twins
# --------------------------------------------------------------------------


def _hits(words: list[str]) -> str:
    lit = "[" + ", ".join(f"'{w}'" for w in words) + "]"
    return f"len(list_filter(t, x -> list_contains({lit}, x)))"


def language_id_sql(docs_path: str) -> str:
    hit_cols = ", ".join(
        f"CAST({_hits(STOPWORDS[lang])} AS INT) AS hits_{lang}" for lang in LANG_PRIORITY
    )
    return f"""WITH {_docs_cte(docs_path)},
toks AS (SELECT id, string_split(n, ' ') AS t FROM docs),
hits AS (SELECT id, {hit_cols} FROM toks)
SELECT id, hits_en, hits_es, hits_de, hits_fr,
       CASE WHEN hits_en >= hits_es AND hits_en >= hits_de AND hits_en >= hits_fr THEN 'en'
            WHEN hits_es >= hits_de AND hits_es >= hits_fr THEN 'es'
            WHEN hits_de >= hits_fr THEN 'de'
            ELSE 'fr' END AS pred_lang
FROM hits"""


def quality_score_sql(docs_path: str) -> str:
    return f"""WITH {_docs_cte(docs_path)},
base AS (
  SELECT id, n, string_split(n, ' ') AS t,
         CAST(length(n) AS INT) AS n_chars,
         CAST(len(string_split(n, ' ')) AS INT) AS n_words
  FROM docs
),
ratios AS (
  SELECT id, n_chars, n_words,
         CAST(n_chars - (n_words - 1) AS DOUBLE) / CAST(n_words AS DOUBLE)
           AS avg_word_len,
         CAST({_hits(STOPWORDS['en'])} AS DOUBLE) / CAST(n_words AS DOUBLE)
           AS stop_ratio,
         CAST(len(regexp_extract_all(n, '[0-9]')) AS DOUBLE)
           / CAST(n_chars AS DOUBLE) AS digit_ratio
  FROM base
)
SELECT id, n_chars, n_words, avg_word_len, stop_ratio, digit_ratio,
       CAST(least(n_words, 100) AS DOUBLE) / 100.0 * 0.5
         + stop_ratio * 0.3 + (1.0 - digit_ratio) * 0.2 AS quality,
       CASE WHEN CAST(least(n_words, 100) AS DOUBLE) / 100.0 * 0.5
                 + stop_ratio * 0.3 + (1.0 - digit_ratio) * 0.2 >= 0.6 THEN 'high'
            WHEN CAST(least(n_words, 100) AS DOUBLE) / 100.0 * 0.5
                 + stop_ratio * 0.3 + (1.0 - digit_ratio) * 0.2 >= 0.4 THEN 'medium'
            ELSE 'low' END AS quality_band
FROM ratios"""


def token_counts_sql(docs_path: str) -> str:
    return f"""WITH {_docs_cte(docs_path)}
SELECT id, CAST(len(string_split(n, ' ')) AS INT) AS ws_tokens,
       CAST(len(regexp_extract_all(n, '{BPE_RE}')) AS INT) AS bpe_tokens,
       CAST(length(n) AS INT) AS n_chars,
       CAST(length(n) AS DOUBLE)
         / CAST(len(regexp_extract_all(n, '{BPE_RE}')) AS DOUBLE) AS chars_per_token
FROM docs"""


def fingerprints_sql(docs_path: str) -> str:
    roll = (
        "list_reduce(list_prepend(0::BIGINT, "
        "[CAST(ascii(substring(n, i, 1)) AS BIGINT) "
        "FOR i IN range(1, greatest(length(n), 1) + 1)]), "
        f"(acc, c) -> (acc * 31 + c) % {P31})"
    )
    return f"""WITH {_docs_cte(docs_path)}
SELECT id, {md5_long_sql('n')} AS fp_md5, CAST({roll} AS BIGINT) AS fp_roll
FROM docs"""


def proportional_token_sample_sql(
    docs_path: str, budgets: dict[str, int]
) -> str:
    """Twin of textstats.proportional_token_sample: same budget map,
    same md5 hash threshold, identical IEEE double ops for the rate."""
    case = (
        "CASE "
        + " ".join(f"WHEN lang = '{k}' THEN {v}" for k, v in budgets.items())
        + " END"
    )
    h = md5_long_sql("CAST(id AS VARCHAR)")
    return f"""WITH toks AS (
  SELECT doc_id AS id, lang,
         CAST(len(string_split({_norm('text')}, ' ')) AS INT) AS n_tokens
  FROM {_rel(docs_path)}
),
tot AS (SELECT lang, sum(n_tokens) AS total FROM toks GROUP BY 1),
rates AS (
  SELECT lang,
         CAST(floor(least(1.0, CAST({case} AS DOUBLE) / CAST(total AS DOUBLE))
              * 1000000.0) AS BIGINT) AS keep_ppm
  FROM tot WHERE {case} IS NOT NULL
)
SELECT id, toks.lang AS lang, n_tokens
FROM toks JOIN rates ON toks.lang = rates.lang
WHERE (({h} % 1000000) + 1000000) % 1000000 < keep_ppm"""


def temperature_token_sample_sql(
    docs_path: str, total_budget: int, alpha: float = 0.5
) -> str:
    """Twin of textstats.temperature_token_sample: the SAME
    dyadic_pow_sql text (sqrt/multiply spell identically in both
    dialects), integer share arithmetic, same hash threshold."""
    from logzilla_spark.operators.textstats import dyadic_pow_sql

    w = dyadic_pow_sql("CAST(t AS DOUBLE)", alpha)
    h = md5_long_sql("CAST(id AS VARCHAR)")
    return f"""WITH toks AS (
  SELECT doc_id AS id, lang,
         CAST(len(string_split({_norm('text')}, ' ')) AS INT) AS n_tokens
  FROM {_rel(docs_path)}
),
tot AS (SELECT lang, CAST(sum(n_tokens) AS BIGINT) AS t FROM toks GROUP BY 1),
w AS (SELECT lang, t, CAST(floor(1000000 * ({w})) AS BIGINT) AS w_ppm FROM tot),
d AS (SELECT CAST(sum(w_ppm) AS BIGINT) AS denom FROM w),
rates AS (
  SELECT lang,
         least(1000000::BIGINT,
               ((({int(total_budget)}::BIGINT * ((w_ppm * 1000000) // denom))
                 // 1000000) * 1000000) // greatest(t, 1)) AS keep_ppm
  FROM w, d
)
SELECT id, toks.lang AS lang, n_tokens
FROM toks JOIN rates ON toks.lang = rates.lang
WHERE (({h} % 1000000) + 1000000) % 1000000 < keep_ppm"""


def c4_line_filter_sql(
    docs_path: str, min_words: int = 3, min_kept_lines: int = 5
) -> str:
    """Twin of textstats.c4_line_filter: same per-line predicate as a
    DuckDB list_filter lambda."""
    pred = (
        "regexp_matches(l, '[.!?\"]\\s*$') "
        f"AND len(string_split_regex(trim(l), ' +')) >= {min_words} "
        "AND NOT contains(lower(l), 'lorem ipsum') "
        "AND NOT contains(lower(l), 'javascript') "
        "AND NOT contains(l, '{')"
    )
    return f"""WITH t0 AS (
  SELECT doc_id AS id, string_split(text, chr(10)) AS lines
  FROM {_rel(docs_path)}
),
k AS (SELECT id, lines, list_filter(lines, l -> {pred}) AS kept FROM t0)
SELECT id, CAST(len(lines) AS INT) AS n_lines,
       CAST(len(kept) AS INT) AS n_lines_kept,
       coalesce(len(kept) >= {min_kept_lines}, false) AS keep_doc,
       -- DuckDB's array_to_string yields NULL for an EMPTY list where
       -- Spark's array_join yields ''; only a NULL input doc is NULL
       CASE WHEN lines IS NULL THEN NULL
            ELSE coalesce(array_to_string(kept, chr(10)), '') END AS clean_text
FROM k"""


def redact_pii_sql(docs_path: str) -> str:
    """Twin of textstats.redact_pii: same patterns (shared constants,
    dialect-parity syntax only), same sequential email -> ip -> phone
    precedence; DuckDB regexp_replace needs the 'g' flag to match
    Spark's replace-all."""
    em, ip, ph = (
        PII_EMAIL_RE.replace("'", "''"),
        PII_IPV4_RE.replace("'", "''"),
        PII_PHONE_RE.replace("'", "''"),
    )
    return f"""WITH t0 AS (SELECT doc_id AS id, text FROM {_rel(docs_path)}),
s1 AS (
  SELECT id, CAST(len(regexp_extract_all(text, '{em}')) AS INT) AS n_emails,
         regexp_replace(text, '{em}', '<EMAIL>', 'g') AS t
  FROM t0
),
s2 AS (
  SELECT id, n_emails,
         CAST(len(regexp_extract_all(t, '{ip}')) AS INT) AS n_ips,
         regexp_replace(t, '{ip}', '<IP>', 'g') AS t
  FROM s1
)
SELECT id, n_emails, n_ips,
       CAST(len(regexp_extract_all(t, '{ph}')) AS INT) AS n_phones,
       regexp_replace(t, '{ph}', '<PHONE>', 'g') AS clean_text
FROM s2"""


def benchmark_contamination_sql(
    docs_path: str, bench_pred: str, n: int = WORDGRAM_N
) -> str:
    """Twin of dedup.benchmark_contamination: the benchmark side is the
    same table filtered by ``bench_pred`` (the demo query's shape).
    Strict grams (no partial/empty grams for sub-n docs) and a plain
    count (both sides per-doc distinct -> unique triples), matching
    the operator exactly."""
    grams = _wordgrams("t", n, strict=True)
    return f"""WITH src AS (
  SELECT doc_id, {_norm('text')} AS nn FROM {_rel(docs_path)}
  WHERE text IS NOT NULL
),
dg AS (
  SELECT doc_id AS id, unnest({grams}) AS gram
  FROM (SELECT doc_id, string_split(nn, ' ') AS t FROM src)
),
bg AS (
  SELECT doc_id AS bench_id, unnest({grams}) AS gram
  FROM (SELECT doc_id, string_split(nn, ' ') AS t FROM src WHERE {bench_pred})
)
SELECT dg.id AS id, bg.bench_id AS bench_id,
       CAST(count(*) AS BIGINT) AS n_shared
FROM dg JOIN bg ON dg.gram = bg.gram
GROUP BY 1, 2"""


def repetition_stats_sql(docs_path: str) -> str:
    """Twin of textstats.repetition_stats (Gopher repetition gate):
    duplicate-line / duplicate-token fractions + top-bigram fraction,
    exact int/int divisions, NULL on degenerate docs (x/0 -> NULL on
    both engines)."""
    return f"""WITH raw AS (
  SELECT doc_id AS id, string_split(text, chr(10)) AS lines,
         string_split({_norm('text')}, ' ') AS t
  FROM {_rel(docs_path)}
),
base AS (
  SELECT id,
         CAST(len(lines) AS INT) AS n_lines,
         CAST(len(t) AS INT) AS n_tokens,
         CAST(len(lines) - len(list_distinct(lines)) AS DOUBLE)
           / CAST(len(lines) AS DOUBLE) AS dup_line_frac,
         CAST(len(t) - len(list_distinct(t)) AS DOUBLE)
           / CAST(len(t) AS DOUBLE) AS dup_token_frac,
         CASE WHEN len(t) >= 2 THEN
           [t[i] || ' ' || t[i + 1] FOR i IN range(1, len(t))]
         ELSE [] END AS bigrams
  FROM raw
),
cnt AS (
  SELECT id, gram, count(*) AS c
  FROM (SELECT id, unnest(bigrams) AS gram FROM base)
  GROUP BY 1, 2
),
top AS (SELECT id, max(c) AS top_cnt FROM cnt GROUP BY 1)
SELECT base.id AS id, n_lines, dup_line_frac, n_tokens, dup_token_frac,
       CAST(top_cnt AS DOUBLE) / CAST(n_tokens - 1 AS DOUBLE)
         AS top_bigram_frac
FROM base LEFT JOIN top ON base.id = top.id"""


def curate_corpus_sql(
    docs_path: str,
    lang: str = "en",
    min_quality: float = 0.4,
    where: str | None = None,
) -> str:
    """Twin of textstats.curate_corpus: language gate + quality gate +
    exact-dedup keep-first in one statement. The quality/pred_lang
    expressions are the SAME text as language_id_sql/quality_score_sql
    (shared constants); dedup is QUALIFY over the content hash."""
    hit_cols = ", ".join(
        f"CAST({_hits(STOPWORDS[lg])} AS INT) AS hits_{lg}" for lg in LANG_PRIORITY
    )
    quality = (
        "CAST(least(n_words, 100) AS DOUBLE) / 100.0 * 0.5"
        " + stop_ratio * 0.3 + (1.0 - digit_ratio) * 0.2"
    )
    return f"""WITH {_docs_cte(docs_path, where=where)},
toks AS (SELECT id, n, string_split(n, ' ') AS t FROM docs),
feat AS (
  SELECT id, n, {hit_cols},
         CAST(len(regexp_extract_all(n, '{BPE_RE}')) AS INT) AS bpe_tokens,
         CAST(length(n) AS INT) AS n_chars,
         CAST(len(t) AS INT) AS n_words,
         CAST({_hits(STOPWORDS['en'])} AS DOUBLE) / CAST(len(t) AS DOUBLE)
           AS stop_ratio,
         CAST(len(regexp_extract_all(n, '[0-9]')) AS DOUBLE)
           / CAST(length(n) AS DOUBLE) AS digit_ratio
  FROM toks
),
scored AS (
  SELECT id, n, bpe_tokens, {quality} AS quality,
         CASE WHEN {quality} >= 0.6 THEN 'high'
              WHEN {quality} >= 0.4 THEN 'medium'
              ELSE 'low' END AS quality_band,
         CASE WHEN hits_en >= hits_es AND hits_en >= hits_de AND hits_en >= hits_fr THEN 'en'
              WHEN hits_es >= hits_de AND hits_es >= hits_fr THEN 'es'
              WHEN hits_de >= hits_fr THEN 'de'
              ELSE 'fr' END AS pred_lang
  FROM feat
),
gated AS (
  SELECT * FROM scored WHERE pred_lang = '{lang}' AND quality >= {min_quality}
),
kept AS (
  -- arg_min is the exact twin of Spark's min_by: ONE survivor row per
  -- content hash even when the keeper id is duplicated (a QUALIFY
  -- id = min(id) keeps every copy of the min id), and a NULL result
  -- when every id in the group is NULL (both ignore null keys)
  SELECT arg_min(struct_pack(
           id := id, pred_lang := pred_lang, quality := quality,
           quality_band := quality_band, bpe_tokens := bpe_tokens), id) AS s,
         CAST(count(*) AS BIGINT) AS n_copies
  FROM gated GROUP BY md5(n)
)
SELECT s.id AS id, s.pred_lang AS pred_lang, s.quality AS quality,
       s.quality_band AS quality_band, s.bpe_tokens AS bpe_tokens, n_copies
FROM kept"""


# --------------------------------------------------------------------------
# multimodal twins
# --------------------------------------------------------------------------


def _ascii_sum(expr: str) -> str:
    return (
        f"CAST(list_sum([CAST(ascii(substring({expr}, i, 1)) AS BIGINT) "
        f"FOR i IN range(1, greatest(length({expr}), 1) + 1)]) % {P31} AS BIGINT)"
    )


def media_stats_sql(media_path: str) -> str:
    return f"""WITH m AS (
  SELECT media_id, kind, decode(payload) AS d, octet_length(payload) AS blen
  FROM {_rel(media_path)}
)
SELECT media_id, kind, substring(d, 1, 4) AS header,
       CAST(blen AS BIGINT) AS byte_len,
       {_ascii_sum('d')} AS checksum,
       {_ascii_sum("substring(d, 5)")} AS body_checksum
FROM m"""


def image_features_sql(media_path: str) -> str:
    """Twin of the STUB decode path (operators/multimodal.py)."""
    total = (
        "list_sum([CAST(ascii(substring(d, i, 1)) AS BIGINT) "
        "FOR i IN range(1, length(d) + 1)])"
    )
    return f"""WITH m AS (
  SELECT media_id, meta.width AS width, meta.height AS height,
         decode(payload) AS d, octet_length(payload) AS blen
  FROM {_rel(media_path)} WHERE kind = 'image'
)
SELECT media_id, width, height, CAST(blen AS BIGINT) AS byte_len,
       CAST(({total} * 1000) // blen AS BIGINT) AS mean_byte_milli,
       'stub-deterministic' AS decoder
FROM m"""


def audio_frames_sql(media_path: str, frame_ms: int = 250) -> str:
    return f"""WITH m AS (
  SELECT media_id, meta.sample_rate AS sample_rate,
         meta.duration_ms AS duration_ms, decode(payload) AS d
  FROM {_rel(media_path)} WHERE kind = 'audio'
)
SELECT media_id, sample_rate, duration_ms,
       CAST(duration_ms // {frame_ms} AS BIGINT) AS n_frames,
       {_ascii_sum("substring(d, 5, 64)")} AS frame0_checksum,
       'stub-deterministic' AS decoder
FROM m"""


def video_frames_sql(media_path: str, every_ms: int | None = None) -> str:
    """Twin of multimodal.video_frame_sample: one row per sampled
    frame (range over duration // every_ms inclusive), checksum over
    the same clipped byte slice."""
    from logzilla_spark.operators.multimodal import (
        HEADER_LEN,
        VIDEO_SAMPLE_MS,
        VIDEO_SLICE,
    )

    ms = int(every_ms if every_ms is not None else VIDEO_SAMPLE_MS)
    sl = f"substring(d, {HEADER_LEN} + 1 + k * {VIDEO_SLICE}, {VIDEO_SLICE})"
    return f"""WITH m AS (
  SELECT media_id, meta.sample_rate AS fps, meta.duration_ms AS duration_ms,
         decode(payload) AS d
  FROM {_rel(media_path)} WHERE kind = 'video'
),
fr AS (
  SELECT media_id, fps, d, CAST(u.k AS INT) AS k
  FROM m, unnest(range(0, CAST(duration_ms // {ms} AS BIGINT) + 1)) AS u(k)
  WHERE d IS NOT NULL AND duration_ms IS NOT NULL
)
SELECT media_id, k AS frame_idx, CAST(k * {ms} AS INT) AS ts_ms, fps,
       {_ascii_sum(sl)} AS frame_checksum
FROM fr"""


def resize_images_sql(media_path: str, max_dim: int | None = None) -> str:
    """Twin of multimodal.resize_images: same integer target geometry
    and proportional body-prefix length; checksum over the real slice.
    NULL geometry/payload keep the row with NULL-folded outputs."""
    from logzilla_spark.operators.multimodal import (
        HEADER_LEN,
        RESIZE_MAX_DIM,
    )

    md = int(max_dim if max_dim is not None else RESIZE_MAX_DIM)
    return f"""WITH m AS (
  SELECT media_id, meta.width AS width, meta.height AS height,
         decode(payload) AS d, octet_length(payload) AS blen
  FROM {_rel(media_path)} WHERE kind = 'image'
),
g AS (
  SELECT media_id, width, height, d,
         CASE WHEN d IS NULL OR width IS NULL OR height IS NULL THEN NULL
              WHEN greatest(width, height) <= {md} THEN width
              ELSE greatest((width * {md}) // greatest(width, height), 1)
         END AS dst_width,
         CASE WHEN d IS NULL OR width IS NULL OR height IS NULL THEN NULL
              WHEN greatest(width, height) <= {md} THEN height
              ELSE greatest((height * {md}) // greatest(width, height), 1)
         END AS dst_height,
         greatest(blen - {HEADER_LEN}, 0) AS body_len
  FROM m
),
r AS (
  SELECT media_id, CAST(width AS INT) AS width, CAST(height AS INT) AS height,
         CAST(dst_width AS INT) AS dst_width,
         CAST(dst_height AS INT) AS dst_height,
         CAST((body_len * dst_width * dst_height) // (width * height)
              AS BIGINT) AS resized_len,
         d
  FROM g
)
SELECT media_id, width, height, dst_width, dst_height, resized_len,
       CASE WHEN resized_len IS NULL THEN NULL
            ELSE {_ascii_sum(f"substring(d, {HEADER_LEN} + 1, resized_len)")}
       END AS resized_checksum,
       'stub-deterministic' AS decoder
FROM r"""


def chunk_sequences_sql(
    docs_path: str, window: int = 128, min_tokens: int = 16
) -> str:
    """Twin of textstats.chunk_sequences: same normalize, same window
    arithmetic (DuckDB list_slice is start/end-inclusive and clamps,
    Spark slice is start/length and clamps — same elements)."""
    w = int(window)
    return f"""WITH {_docs_cte(docs_path)},
toks AS (
  SELECT id, string_split(n, ' ') AS t FROM docs
  WHERE n IS NOT NULL AND n <> ''
),
ch AS (
  SELECT id, CAST(u.i AS INT) AS chunk_id,
         CAST(len(list_slice(t, u.i * {w} + 1, u.i * {w} + {w})) AS INT) AS n_tokens,
         array_to_string(list_slice(t, u.i * {w} + 1, u.i * {w} + {w}), ' ') AS chunk_text
  FROM toks, unnest(range(0, CAST(floor((len(t) - 1) / {w}) AS BIGINT) + 1)) AS u(i)
)
SELECT id, chunk_id, n_tokens, chunk_text FROM ch
WHERE n_tokens >= {int(min_tokens)}"""


def line_dedup_sql(docs_path: str, max_docs: int = MAX_LINE_DOCS) -> str:
    """Twin of textstats.line_dedup: same 64-bit line key, same
    >max_docs distinct-doc boilerplate cut, same ordered reassembly
    (string_agg ORDER BY pos == Spark's sort_array over (pos, line)
    structs — pos is unique within a doc)."""
    return f"""WITH t0 AS (
  SELECT doc_id AS id, string_split(text, chr(10)) AS ls
  FROM {_rel(docs_path)} WHERE text IS NOT NULL
),
lines AS (
  SELECT id,
         unnest([{{'pos': i - 1, 'line': ls[i]}} FOR i IN range(1, len(ls) + 1)],
                recursive := true)
  FROM t0
),
keyed AS (
  SELECT id, pos, line, {md5_long_sql('trim(line)')} AS h FROM lines
),
bad AS (
  SELECT h FROM keyed GROUP BY h HAVING count(DISTINCT id) > {int(max_docs)}
),
flagged AS (
  SELECT k.id, k.pos, k.line, b.h IS NOT NULL AS is_bad
  FROM keyed k LEFT JOIN bad b ON k.h = b.h
)
SELECT id, CAST(count(*) AS INT) AS n_lines,
       CAST(sum(CASE WHEN is_bad THEN 0 ELSE 1 END) AS INT) AS n_lines_kept,
       coalesce(string_agg(CASE WHEN is_bad THEN NULL ELSE line END, chr(10) ORDER BY pos),
                '') AS clean_text
FROM flagged GROUP BY id"""


def url_curate_sql(
    pages_path: str,
    blocklist: tuple[str, ...] = DEFAULT_URL_BLOCKLIST,
) -> str:
    """Twin of urls.url_curate: same regex constants, same staged
    normalization, arg_max over the same zero-padded epoch-micros total
    order (epoch_us == Spark's unix_micros)."""
    pat = blocklist_regex(tuple(blocklist))
    blocked = f"regexp_matches(domain, '{pat}')" if pat is not None else "false"
    return f"""WITH t0 AS (
  SELECT url, warc_ts, regexp_replace(url, '#.*$', '') AS nofrag
  FROM {_rel(pages_path)} WHERE url IS NOT NULL
),
s1 AS (
  SELECT url, warc_ts, nofrag,
         regexp_extract(nofrag, '{SCHEME_HOST_RE}', 1) AS auth
  FROM t0
),
s2 AS (
  SELECT url, warc_ts,
         lower(regexp_replace(auth, ':(80|443)$', '')) AS host,
         substring(nofrag, length(auth) + 1) AS rest
  FROM s1
),
s3 AS (
  SELECT url, warc_ts, host,
         regexp_extract(rest, '^([^?]*)', 1) AS path,
         array_to_string(list_filter(
           string_split(regexp_extract(rest, '^[^?]*\\?(.*)$', 1), '&'),
           p -> NOT regexp_matches(p, '{TRACKING_PARAM_RE}')), '&') AS q
  FROM s2
),
cur AS (
  SELECT url, warc_ts,
         host || path || CASE WHEN q = '' THEN '' ELSE '?' || q END AS norm_url,
         regexp_extract(host, '{DOMAIN_RE}', 1) AS domain
  FROM s3
),
gated AS (SELECT * FROM cur WHERE NOT ({blocked}))
SELECT norm_url, k.url AS url, k.warc_ts AS warc_ts, k.domain AS domain,
       n_crawls
FROM (
  SELECT norm_url,
         arg_max(struct_pack(url := url, warc_ts := warc_ts, domain := domain),
                 coalesce(lpad(CAST(epoch_us(warc_ts) + {_MICROS_SINCE_YEAR_1} AS VARCHAR), 20, '0'), '')
                   || '|' || url) AS k,
         CAST(count(*) AS BIGINT) AS n_crawls
  FROM gated GROUP BY norm_url
)"""


def pack_sequences_sql(
    docs_path: str,
    budget: int = PACK_BUDGET,
    n_groups: int = PACK_GROUPS,
    where: str | None = None,
) -> str:
    """Twin of textstats.pack_sequences: same hash-group split, same
    per-group id-ordered running sum over PRECEDING rows."""
    h = md5_long_sql("CAST(id AS VARCHAR)")
    return f"""WITH {_docs_cte(docs_path, where=where)},
toks AS (
  SELECT id, CAST(len(string_split(n, ' ')) AS INT) AS n_tokens,
         CAST(({h} % {int(n_groups)} + {int(n_groups)}) % {int(n_groups)} AS INT) AS grp
  FROM docs WHERE n IS NOT NULL AND n <> ''
),
packed AS (
  SELECT id, grp, n_tokens,
         coalesce(sum(n_tokens) OVER (
           PARTITION BY grp ORDER BY id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prev
  FROM toks
)
SELECT id, grp, n_tokens,
       CAST(floor(prev / {int(budget)}) AS BIGINT) AS seq_no,
       CAST(prev % {int(budget)} AS BIGINT) AS seq_off
FROM packed"""


def cosine_topk_ivf_sql(
    emb_path: str,
    k: int = similarity.DEFAULT_K,
    probe_mod: int = 100,
    dim: int = similarity.EMB_DIM,
    n_cells: int = similarity.IVF_CELLS,
    nprobe: int = similarity.IVF_NPROBE,
) -> str:
    """Twin of similarity.cosine_topk_ivf: same seeded quantizer (k
    lowest-id vectors), same nearest-cell assignment (cos DESC, cell
    ASC, NULL last == functions.vectors), same nprobe cut."""
    cos_assign = _cosine_sql("e.embedding", "s.seed", dim)
    cos_probe = _cosine_sql("p.embedding", "s.seed", dim)
    cos = _cosine_sql("pc.pe", "a.embedding", dim)
    return f"""WITH e AS (SELECT vec_id AS id, embedding FROM {_rel(emb_path)}),
seeds AS (
  SELECT CAST(row_number() OVER (ORDER BY id) - 1 AS INT) AS cell,
         embedding AS seed
  FROM (SELECT id, embedding FROM e ORDER BY id LIMIT {int(n_cells)})
),
assign AS (
  SELECT id, embedding, cell FROM (
    SELECT e.id, e.embedding, s.cell,
           row_number() OVER (PARTITION BY e.id
                              ORDER BY {cos_assign} DESC, s.cell) AS rn
    FROM e CROSS JOIN seeds s) WHERE rn = 1
),
p AS (SELECT id, embedding FROM e WHERE id % {probe_mod} = 0),
pc AS (
  SELECT id AS probe_id, embedding AS pe, cell FROM (
    SELECT p.id, p.embedding, s.cell,
           row_number() OVER (PARTITION BY p.id
                              ORDER BY {cos_probe} DESC, s.cell) AS rn
    FROM p CROSS JOIN seeds s) WHERE rn <= {int(nprobe)}
)
SELECT pc.probe_id, a.id AS neighbor_id, {cos} AS cosine,
       CAST(row_number() OVER (PARTITION BY pc.probe_id
                               ORDER BY {cos} DESC, a.id) AS INT) AS rank
FROM pc JOIN assign a USING (cell)
WHERE pc.probe_id != a.id
QUALIFY rank <= {int(k)}"""


def _l2sq_sql(x: str, y: str, dsub: int) -> str:
    """Pinned-order squared-L2 fold over dsub dims — bit-matches
    similarity.l2sq_expr (same discipline as _dot_sql)."""
    return (
        f"list_reduce(list_prepend(CAST(0 AS DOUBLE), "
        f"list_transform(range(1, {dsub + 1}), "
        f"i -> (CAST({x}[i] AS DOUBLE) - CAST({y}[i] AS DOUBLE)) * "
        f"(CAST({x}[i] AS DOUBLE) - CAST({y}[i] AS DOUBLE)))), "
        "(acc, v) -> acc + v)"
    )


def pq_topk_sql(
    emb_path: str,
    k: int = similarity.DEFAULT_K,
    probe_mod: int = 100,
    dim: int = similarity.EMB_DIM,
    m: int = similarity.PQ_M,
    ksub: int = similarity.PQ_KSUB,
) -> str:
    """Twin of similarity.pq_topk: seeded codebooks (subvectors of the
    ksub lowest-id vectors), per-subspace argmin encode (L2^2 ASC,
    code ASC, NULL last == functions.vectors), and the ADC score as a
    sub-ordered pinned fold (list_sort by sub, then list_reduce
    left-to-right == Spark's zip_with(codes, luts) aggregate)."""
    dsub = dim // m
    enc_d = _l2sq_sql("sv.sv", "cb.codeword", dsub)
    lut_d = _l2sq_sql("psv.sv", "cb.codeword", dsub)
    return f"""WITH e AS (SELECT vec_id, embedding FROM {_rel(emb_path)}),
subs AS (SELECT CAST(unnest(range(0, {m})) AS INT) AS sub),
cb AS (
  SELECT s.sub, b.code,
         list_slice(b.embedding, s.sub * {dsub} + 1, s.sub * {dsub} + {dsub}) AS codeword
  FROM (SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS code,
               embedding
        FROM (SELECT vec_id, embedding FROM e ORDER BY vec_id LIMIT {int(ksub)})) b
  CROSS JOIN subs s
),
sv AS (
  SELECT e.vec_id, s.sub,
         list_slice(e.embedding, s.sub * {dsub} + 1, s.sub * {dsub} + {dsub}) AS sv
  FROM e CROSS JOIN subs s
),
enc AS (
  SELECT vec_id, sub, code FROM (
    SELECT sv.vec_id, sv.sub, cb.code,
           row_number() OVER (PARTITION BY sv.vec_id, sv.sub
                              ORDER BY {enc_d} ASC, cb.code) AS rn
    FROM sv JOIN cb USING (sub)) WHERE rn = 1
),
psv AS (
  SELECT vec_id AS probe_id, sub, sv FROM sv WHERE vec_id % {probe_mod} = 0
),
lut AS (
  SELECT psv.probe_id, psv.sub, cb.code, {lut_d} AS pd
  FROM psv JOIN cb USING (sub)
),
scored AS (
  SELECT l.probe_id, c.vec_id AS neighbor_id,
         list_reduce(list_prepend(CAST(0 AS DOUBLE),
           list_transform(list_sort(list(struct_pack(sub := c.sub, pd := l.pd))),
                          x -> x.pd)),
           (acc, v) -> acc + v) AS adc
  FROM enc c JOIN lut l ON c.sub = l.sub AND c.code = l.code
  WHERE l.probe_id != c.vec_id
  GROUP BY l.probe_id, c.vec_id
)
SELECT probe_id, neighbor_id, adc,
       CAST(row_number() OVER (PARTITION BY probe_id
                               ORDER BY adc, neighbor_id) AS INT) AS rank
FROM scored QUALIFY rank <= {int(k)}"""


def pq_topk_ivf_sql(
    emb_path: str,
    k: int = similarity.DEFAULT_K,
    probe_mod: int = 100,
    dim: int = similarity.EMB_DIM,
    m: int = similarity.PQ_M,
    ksub: int = similarity.PQ_KSUB,
    n_cells: int = similarity.IVF_CELLS,
    nprobe: int = similarity.IVF_NPROBE,
) -> str:
    """Twin of similarity.pq_topk_ivf: the cosine_topk_ivf_sql seeded
    quantizer + assignment composed with the pq_topk_sql seeded
    codebooks + encode + pinned ADC fold; candidates are the probe's
    nprobe cells only."""
    dsub = dim // m
    enc_d = _l2sq_sql("sv.sv", "cb.codeword", dsub)
    lut_d = _l2sq_sql("psv.sv", "cb.codeword", dsub)
    cos_assign = _cosine_sql("e.embedding", "s.seed", dim)
    cos_probe = _cosine_sql("p.embedding", "s.seed", dim)
    return f"""WITH e AS (SELECT vec_id, embedding FROM {_rel(emb_path)}),
subs AS (SELECT CAST(unnest(range(0, {m})) AS INT) AS sub),
cb AS (
  SELECT s.sub, b.code,
         list_slice(b.embedding, s.sub * {dsub} + 1, s.sub * {dsub} + {dsub}) AS codeword
  FROM (SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS code,
               embedding
        FROM (SELECT vec_id, embedding FROM e ORDER BY vec_id LIMIT {int(ksub)})) b
  CROSS JOIN subs s
),
sv AS (
  SELECT e.vec_id, s.sub,
         list_slice(e.embedding, s.sub * {dsub} + 1, s.sub * {dsub} + {dsub}) AS sv
  FROM e CROSS JOIN subs s
),
enc AS (
  SELECT vec_id, sub, code FROM (
    SELECT sv.vec_id, sv.sub, cb.code,
           row_number() OVER (PARTITION BY sv.vec_id, sv.sub
                              ORDER BY {enc_d} ASC, cb.code) AS rn
    FROM sv JOIN cb USING (sub)) WHERE rn = 1
),
seeds AS (
  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cell,
         embedding AS seed
  FROM (SELECT vec_id, embedding FROM e ORDER BY vec_id LIMIT {int(n_cells)})
),
assign AS (
  SELECT vec_id, cell FROM (
    SELECT e.vec_id, s.cell,
           row_number() OVER (PARTITION BY e.vec_id
                              ORDER BY {cos_assign} DESC, s.cell) AS rn
    FROM e CROSS JOIN seeds s) WHERE rn = 1
),
p AS (SELECT vec_id, embedding FROM e WHERE vec_id % {probe_mod} = 0),
pc AS (
  SELECT vec_id AS probe_id, cell FROM (
    SELECT p.vec_id, s.cell,
           row_number() OVER (PARTITION BY p.vec_id
                              ORDER BY {cos_probe} DESC, s.cell) AS rn
    FROM p CROSS JOIN seeds s) WHERE rn <= {int(nprobe)}
),
psv AS (
  SELECT vec_id AS probe_id, sub, sv FROM sv WHERE vec_id % {probe_mod} = 0
),
lut AS (
  SELECT psv.probe_id, psv.sub, cb.code, {lut_d} AS pd
  FROM psv JOIN cb USING (sub)
),
scored AS (
  SELECT pc.probe_id, a.vec_id AS neighbor_id,
         list_reduce(list_prepend(CAST(0 AS DOUBLE),
           list_transform(list_sort(list(struct_pack(sub := c.sub, pd := l.pd))),
                          x -> x.pd)),
           (acc, v) -> acc + v) AS adc
  FROM pc
  JOIN assign a ON a.cell = pc.cell AND a.vec_id != pc.probe_id
  JOIN enc c ON c.vec_id = a.vec_id
  JOIN lut l ON l.probe_id = pc.probe_id AND l.sub = c.sub AND l.code = c.code
  GROUP BY pc.probe_id, a.vec_id
)
SELECT probe_id, neighbor_id, adc,
       CAST(row_number() OVER (PARTITION BY probe_id
                               ORDER BY adc, neighbor_id) AS INT) AS rank
FROM scored QUALIFY rank <= {int(k)}"""


def _fp_mean_sql(fv: str) -> str:
    """Twin of functions.vectors._means: quantized mean of fixed-point
    BIGINT components — exact sum, one IEEE double division, floor,
    exact exponent-shift rescale. Bit-identical to Spark because every
    non-exact step is a single deterministic IEEE operation (but
    ``count(*)`` counts a NULL-vector member: ROADMAP item 2)."""
    fp = float(1 << IVF_FP_BITS)
    return (
        f"CAST(floor(CAST(sum({fv}) AS DOUBLE) / count(*)) AS DOUBLE)"
        f" / {fp!r}"
    )


def _fp_quantize_sql(v: str) -> str:
    """Twin of functions.vectors._fixed: floor(v * 2^IVF_FP_BITS)."""
    fp = float(1 << IVF_FP_BITS)
    return f"CAST(floor(CAST({v} AS DOUBLE) * {fp!r}) AS BIGINT)"


def _ivf_kmeans_ctes(dim: int, n_cells: int, n_iters: int) -> tuple[str, str]:
    """Unrolled Lloyd loop as CTE text: returns (ctes_sql, final_name).

    Mirrors similarity.ivf_train_kmeans iteration for iteration: init
    = the seeded quantizer, per-iteration nearest-cell assignment
    (cos DESC, cell ASC == functions.vectors' nearest-centroid order),
    fixed-point per-(cell, dimension) means, empty cells keep the
    previous centroid (left-join coalesce). A fixed iteration count is
    what makes the unroll legal."""
    ctes = [
        f"""seeds0 AS (
  SELECT CAST(row_number() OVER (ORDER BY id) - 1 AS INT) AS cell,
         CAST(embedding AS DOUBLE[]) AS seed
  FROM (SELECT id, embedding FROM e ORDER BY id LIMIT {int(n_cells)})
)""",
        f"kdims AS (SELECT CAST(unnest(range(1, {dim + 1})) AS INT) AS i)",
    ]
    for t in range(int(n_iters)):
        cos_a = _cosine_sql("e.embedding", "s.seed", dim)
        ctes.append(f"""kassign{t} AS (
  SELECT id, embedding, cell FROM (
    SELECT e.id, e.embedding, s.cell,
           row_number() OVER (PARTITION BY e.id
                              ORDER BY {cos_a} DESC, s.cell) AS rn
    FROM e CROSS JOIN seeds{t} s) WHERE rn = 1
)""")
        ctes.append(f"""kmeans{t} AS (
  SELECT cell, i, {_fp_mean_sql('fv')} AS m FROM (
    SELECT a.cell, d.i, {_fp_quantize_sql('a.embedding[d.i]')} AS fv
    FROM kassign{t} a CROSS JOIN kdims d)
  GROUP BY cell, i
)""")
        ctes.append(f"""knews{t} AS (
  SELECT cell, list(m ORDER BY i) AS seed FROM kmeans{t} GROUP BY cell
)""")
        ctes.append(f"""seeds{t + 1} AS (
  SELECT s.cell, coalesce(n.seed, s.seed) AS seed
  FROM seeds{t} s LEFT JOIN knews{t} n USING (cell)
)""")
    return ",\n".join(ctes), f"seeds{int(n_iters)}"


def cosine_topk_ivf_trained_sql(
    emb_path: str,
    k: int = similarity.DEFAULT_K,
    probe_mod: int = 100,
    dim: int = similarity.EMB_DIM,
    n_cells: int = similarity.IVF_CELLS,
    nprobe: int = similarity.IVF_NPROBE,
    n_iters: int = similarity.IVF_TRAIN_ITERS,
) -> str:
    """Twin of similarity.cosine_topk_ivf_trained: the unrolled
    fixed-point Lloyd loop (_ivf_kmeans_ctes), then exactly
    cosine_topk_ivf_sql's serve shape over the trained centroids."""
    train, seeds = _ivf_kmeans_ctes(dim, n_cells, n_iters)
    cos_assign = _cosine_sql("e.embedding", "s.seed", dim)
    cos_probe = _cosine_sql("p.embedding", "s.seed", dim)
    cos = _cosine_sql("pc.pe", "a.embedding", dim)
    return f"""WITH e AS (SELECT vec_id AS id, embedding FROM {_rel(emb_path)}),
{train},
assign AS (
  SELECT id, embedding, cell FROM (
    SELECT e.id, e.embedding, s.cell,
           row_number() OVER (PARTITION BY e.id
                              ORDER BY {cos_assign} DESC, s.cell) AS rn
    FROM e CROSS JOIN {seeds} s) WHERE rn = 1
),
p AS (SELECT id, embedding FROM e WHERE id % {probe_mod} = 0),
pc AS (
  SELECT id AS probe_id, embedding AS pe, cell FROM (
    SELECT p.id, p.embedding, s.cell,
           row_number() OVER (PARTITION BY p.id
                              ORDER BY {cos_probe} DESC, s.cell) AS rn
    FROM p CROSS JOIN {seeds} s) WHERE rn <= {int(nprobe)}
)
SELECT pc.probe_id, a.id AS neighbor_id, {cos} AS cosine,
       CAST(row_number() OVER (PARTITION BY pc.probe_id
                               ORDER BY {cos} DESC, a.id) AS INT) AS rank
FROM pc JOIN assign a USING (cell)
WHERE pc.probe_id != a.id
QUALIFY rank <= {int(k)}"""


def pq_topk_trained_sql(
    emb_path: str,
    k: int = similarity.DEFAULT_K,
    probe_mod: int = 100,
    dim: int = similarity.EMB_DIM,
    m: int = similarity.PQ_M,
    ksub: int = similarity.PQ_KSUB,
    n_iters: int = similarity.PQ_TRAIN_ITERS,
) -> str:
    """Twin of similarity.pq_topk_trained: per-subspace fixed-point
    Lloyd k-means (the ``sub`` column keys every aggregation, exactly
    like the Spark trainer), then pq_topk_sql's encode + pinned ADC
    fold over the trained codebooks."""
    dsub = dim // m
    enc_d = _l2sq_sql("sv.sv", "cb.codeword", dsub)
    lut_d = _l2sq_sql("psv.sv", "cb.codeword", dsub)
    ctes = [
        f"e AS (SELECT vec_id, embedding FROM {_rel(emb_path)})",
        f"subs AS (SELECT CAST(unnest(range(0, {m})) AS INT) AS sub)",
        f"""cb0 AS (
  SELECT s.sub, b.code,
         CAST(list_slice(b.embedding, s.sub * {dsub} + 1,
                         s.sub * {dsub} + {dsub}) AS DOUBLE[]) AS codeword
  FROM (SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS code,
               embedding
        FROM (SELECT vec_id, embedding FROM e ORDER BY vec_id LIMIT {int(ksub)})) b
  CROSS JOIN subs s
)""",
        f"""sv AS (
  SELECT e.vec_id, s.sub,
         list_slice(e.embedding, s.sub * {dsub} + 1, s.sub * {dsub} + {dsub}) AS sv
  FROM e CROSS JOIN subs s
)""",
        f"pdims AS (SELECT CAST(unnest(range(1, {dsub + 1})) AS INT) AS i)",
    ]
    for t in range(int(n_iters)):
        d_t = _l2sq_sql("sv.sv", "cb.codeword", dsub)
        ctes.append(f"""passign{t} AS (
  SELECT sub, code, sv FROM (
    SELECT sv.vec_id, sv.sub, cb.code, sv.sv,
           row_number() OVER (PARTITION BY sv.vec_id, sv.sub
                              ORDER BY {d_t} ASC, cb.code) AS rn
    FROM sv JOIN cb{t} cb USING (sub)) WHERE rn = 1
)""")
        ctes.append(f"""pmeans{t} AS (
  SELECT sub, code, i, {_fp_mean_sql('fv')} AS m FROM (
    SELECT a.sub, a.code, d.i, {_fp_quantize_sql('a.sv[d.i]')} AS fv
    FROM passign{t} a CROSS JOIN pdims d)
  GROUP BY sub, code, i
)""")
        ctes.append(f"""pnews{t} AS (
  SELECT sub, code, list(m ORDER BY i) AS codeword
  FROM pmeans{t} GROUP BY sub, code
)""")
        ctes.append(f"""cb{t + 1} AS (
  SELECT c.sub, c.code, coalesce(n.codeword, c.codeword) AS codeword
  FROM cb{t} c LEFT JOIN pnews{t} n USING (sub, code)
)""")
    cbf = f"cb{int(n_iters)}"
    return "WITH " + ",\n".join(ctes) + f""",
cb AS (SELECT * FROM {cbf}),
enc AS (
  SELECT vec_id, sub, code FROM (
    SELECT sv.vec_id, sv.sub, cb.code,
           row_number() OVER (PARTITION BY sv.vec_id, sv.sub
                              ORDER BY {enc_d} ASC, cb.code) AS rn
    FROM sv JOIN cb USING (sub)) WHERE rn = 1
),
psv AS (
  SELECT vec_id AS probe_id, sub, sv FROM sv WHERE vec_id % {probe_mod} = 0
),
lut AS (
  SELECT psv.probe_id, psv.sub, cb.code, {lut_d} AS pd
  FROM psv JOIN cb USING (sub)
),
scored AS (
  SELECT l.probe_id, c.vec_id AS neighbor_id,
         list_reduce(list_prepend(CAST(0 AS DOUBLE),
           list_transform(list_sort(list(struct_pack(sub := c.sub, pd := l.pd))),
                          x -> x.pd)),
           (acc, v) -> acc + v) AS adc
  FROM enc c JOIN lut l ON c.sub = l.sub AND c.code = l.code
  WHERE l.probe_id != c.vec_id
  GROUP BY l.probe_id, c.vec_id
)
SELECT probe_id, neighbor_id, adc,
       CAST(row_number() OVER (PARTITION BY probe_id
                               ORDER BY adc, neighbor_id) AS INT) AS rank
FROM scored QUALIFY rank <= {int(k)}"""


def bpe_pair_counts_sql(docs_path: str, min_freq: int = MIN_PAIR_FREQ) -> str:
    """Twin of textstats.bpe_pair_counts: word-frequency table once,
    char pairs + end-of-word boundary pair enumerated per distinct
    word, weighted by word frequency."""
    return f"""WITH {_docs_cte(docs_path)},
words AS (
  SELECT w, CAST(count(*) AS BIGINT) AS wf
  FROM (SELECT unnest(string_split(n, ' ')) AS w FROM docs)
  WHERE w <> '' GROUP BY w
),
sym AS (
  SELECT list_append([substring(w, i, 1) FOR i IN range(1, length(w) + 1)],
                     '{BPE_EOW}') AS s, wf
  FROM words
),
pr AS (
  SELECT unnest([struct_pack(lhs := s[i], rhs := s[i + 1])
                 FOR i IN range(1, len(s))]) AS p, wf
  FROM sym
)
SELECT p.lhs AS lhs, p.rhs AS rhs, CAST(sum(wf) AS BIGINT) AS freq
FROM pr GROUP BY 1, 2
HAVING CAST(sum(wf) AS BIGINT) >= {int(min_freq)}"""


def neardup_keep_best_sql(docs_path: str) -> str:
    """Twin of cluster.neardup_keep_best over ngram_jaccard_pairs
    edges + quality_score scores: connected components via the
    recursive transitive closure, winner per cluster = first row under
    (ns ASC, id ASC) with ns = -quality and NULL/NaN mapped to +inf —
    the exact ordering key the Spark side builds (raw DESC would
    diverge: the engines disagree on NULL/NaN placement). DuckDB 1.0's
    arg_min rejects struct keys, so the twin uses a row_number
    window."""
    return f"""WITH RECURSIVE jp AS ({ngram_jaccard_pairs_sql(docs_path)}),
und AS (
  SELECT doc_a AS a, doc_b AS b FROM jp
  UNION
  SELECT doc_b AS a, doc_a AS b FROM jp
),
reach(id, r) AS (
  SELECT a, a FROM und
  UNION
  SELECT und.a, reach.r FROM und JOIN reach ON und.b = reach.id
),
cc AS (SELECT id, min(r) AS cluster_id FROM reach GROUP BY id),
q AS (SELECT id, quality FROM ({quality_score_sql(docs_path)})),
scored AS (
  SELECT CAST(q.id AS BIGINT) AS id,
         CAST(coalesce(cc.cluster_id, q.id) AS BIGINT) AS cluster_id,
         q.quality AS quality
  FROM q LEFT JOIN cc ON q.id = cc.id
),
win AS (
  SELECT cluster_id, id AS keep
  FROM scored
  QUALIFY row_number() OVER (
    PARTITION BY cluster_id
    ORDER BY (CASE WHEN quality IS NULL OR isnan(quality)
                   THEN 'infinity'::DOUBLE ELSE -quality END) ASC,
             id ASC) = 1
)
SELECT s.id, s.cluster_id, s.quality, s.id = w.keep AS is_kept
FROM scored s JOIN win w ON s.cluster_id = w.cluster_id"""


def training_examples_sql(
    docs_path: str,
    lang: str = "en",
    min_quality: float = 0.4,
    n_shards: int = 1024,
    seed: str = "",
    budget: int = PACK_BUDGET,
    n_groups: int = PACK_GROUPS,
) -> str:
    """Twin of trainrun.training_examples: the composed macro pipeline
    — near-dup keep-best over the full corpus, curation gates + exact
    dedup restricted to the winners, packing and shard placement over
    the curated survivors, all as nested CTEs of the already-verified
    per-stage twins (restriction via the _docs_cte where= hook, so
    each nested statement stays byte-reusable)."""
    from logzilla_spark.operators.shards import shard_manifest_sql

    kb = neardup_keep_best_sql(docs_path)
    cur = curate_corpus_sql(
        docs_path, lang, min_quality,
        where="doc_id IN (SELECT id FROM kb WHERE is_kept)",
    )
    pk = pack_sequences_sql(
        docs_path, budget, n_groups,
        where="doc_id IN (SELECT id FROM cur)",
    )
    sh = shard_manifest_sql(
        "(SELECT id AS doc_id FROM cur)", n_shards, seed
    )
    return f"""WITH kb AS ({kb}),
cur AS (SELECT id, quality, bpe_tokens FROM ({cur})),
pk AS ({pk}),
sh AS ({sh})
SELECT cur.id AS id, cur.quality AS quality, cur.bpe_tokens AS bpe_tokens,
       pk.grp AS grp, pk.n_tokens AS n_tokens,
       pk.seq_no AS seq_no, pk.seq_off AS seq_off,
       sh.skey AS skey, sh.shard AS shard, sh.pos AS pos
FROM cur
JOIN pk ON cur.id = pk.id
JOIN sh ON cur.id = sh.id"""


def dup_passage_stats_sql(docs_path: str, window: int = DUP_WINDOW) -> str:
    """Twin of textstats.dup_passage_stats: same _wordgrams gram
    definition (distinct, floor for short docs), same 64-bit gram
    hash, duplicated = hash in >= 2 distinct docs."""
    return f"""WITH {_docs_cte(docs_path)},
toks AS (SELECT id, string_split(n, ' ') AS t FROM docs),
hs AS (
  SELECT id, {md5_long_sql('g')} AS h
  FROM (SELECT id, unnest({_wordgrams('t', int(window))}) AS g FROM toks)
),
hot AS (
  SELECT h, 1 AS dup FROM hs GROUP BY h HAVING count(DISTINCT id) >= 2
)
SELECT hs.id AS id, CAST(count(*) AS BIGINT) AS n_windows,
       CAST(sum(coalesce(hot.dup, 0)) AS BIGINT) AS n_dup_windows,
       CAST(sum(coalesce(hot.dup, 0)) AS DOUBLE) / CAST(count(*) AS DOUBLE)
         AS dup_fraction
FROM hs LEFT JOIN hot ON hs.h = hot.h
GROUP BY hs.id"""


def corpus_report_sql(docs_path: str) -> str:
    """Twin of textstats.corpus_report, computed PER PHYSICAL ROW in
    one CTE chain (no id joins — a corpus with duplicated doc_ids must
    amplify nothing; the Spark side never joins either). Same hit /
    pred-lang / quality expressions as the unit twins, same fixed
    addition order for the quality double, NULL-text rows excluded."""
    hit_cols = ", ".join(
        f"CAST({_hits(STOPWORDS[lang])} AS INT) AS hits_{lang}"
        for lang in LANG_PRIORITY
    )
    quality = (
        "CAST(least(n_words, 100) AS DOUBLE) / 100.0 * 0.5"
        " + (CAST(hits_en AS DOUBLE) / CAST(n_words AS DOUBLE)) * 0.3"
        " + (1.0 - CAST(len(regexp_extract_all(n, '[0-9]')) AS DOUBLE)"
        " / CAST(length(n) AS DOUBLE)) * 0.2"
    )
    return f"""WITH docs AS (
  SELECT {_norm('text')} AS n FROM {_rel(docs_path)} WHERE text IS NOT NULL
),
base AS (SELECT n, string_split(n, ' ') AS t FROM docs),
sig AS (
  SELECT n, CAST(len(t) AS INT) AS n_words, {hit_cols}
  FROM base
),
q AS (
  SELECT n, n_words,
         CASE WHEN hits_en >= hits_es AND hits_en >= hits_de
                   AND hits_en >= hits_fr THEN 'en'
              WHEN hits_es >= hits_de AND hits_es >= hits_fr THEN 'es'
              WHEN hits_de >= hits_fr THEN 'de'
              ELSE 'fr' END AS pred_lang,
         {quality} AS quality
  FROM sig
)
SELECT pred_lang,
       CASE WHEN quality >= 0.6 THEN 'high'
            WHEN quality >= 0.4 THEN 'medium'
            ELSE 'low' END AS quality_band,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_words) AS BIGINT) AS total_words,
       CAST(count(DISTINCT md5(n)) AS BIGINT) AS distinct_docs
FROM q GROUP BY 1, 2"""


def gopher_quality_filter_sql(
    docs_path: str,
    min_words: int | None = None,
    min_stop_hits: int | None = None,
) -> str:
    """Twin of textstats.gopher_quality_filter: same splits, same
    regex counts, same exact divisions; NULL text keeps its row with
    NULL-folded signals, n_stop_hits 0 and keep false."""
    from logzilla_spark.operators.textstats import (
        GOPHER_MAX_BULLET_FRAC,
        GOPHER_MAX_ELLIPSIS_FRAC,
        GOPHER_MAX_SYMBOL_RATIO,
        GOPHER_MAX_WORD_LEN,
        GOPHER_MAX_WORDS,
        GOPHER_MIN_ALPHA_FRAC,
        GOPHER_MIN_STOP_HITS,
        GOPHER_MIN_WORD_LEN,
        GOPHER_MIN_WORDS,
        GOPHER_STOPWORDS,
    )

    GOPHER_MIN_WORDS = int(min_words if min_words is not None else GOPHER_MIN_WORDS)
    GOPHER_MIN_STOP_HITS = int(
        min_stop_hits if min_stop_hits is not None else GOPHER_MIN_STOP_HITS
    )

    stop_lit = "[" + ", ".join(f"'{w}'" for w in GOPHER_STOPWORDS) + "]"
    return f"""WITH src AS (
  SELECT doc_id AS id, string_split(text, chr(10)) AS lines,
         {_norm('text')} AS n
  FROM {_rel(docs_path)}
),
b AS (
  SELECT id, lines, n, string_split(n, ' ') AS t,
         CAST(len(string_split(n, ' ')) AS INT) AS n_words,
         len(lines) AS n_lines
  FROM src
)
SELECT id, n_words,
       CAST(length(n) - (n_words - 1) AS DOUBLE)
         / CAST(n_words AS DOUBLE) AS mean_word_len,
       CAST(len(regexp_extract_all(n, '#'))
            + len(regexp_extract_all(n, '\\.\\.\\.')) AS DOUBLE)
         / CAST(n_words AS DOUBLE) AS symbol_ratio,
       CAST(len([l FOR l IN lines IF starts_with(ltrim(l), '-')
                 OR starts_with(ltrim(l), '*')
                 OR starts_with(ltrim(l), '•')]) AS DOUBLE)
         / CAST(n_lines AS DOUBLE) AS bullet_frac,
       CAST(len([l FOR l IN lines IF ends_with(rtrim(l), '...')
                 OR ends_with(rtrim(l), '…')]) AS DOUBLE)
         / CAST(n_lines AS DOUBLE) AS ellipsis_frac,
       CAST(len([w FOR w IN t IF regexp_matches(w, '[a-z]')]) AS DOUBLE)
         / CAST(n_words AS DOUBLE) AS alpha_word_frac,
       CAST(len([s FOR s IN {stop_lit} IF list_contains(t, s)]) AS INT)
         AS n_stop_hits,
       coalesce(
         n_words >= {GOPHER_MIN_WORDS} AND n_words <= {GOPHER_MAX_WORDS}
         AND (CAST(length(n) - (n_words - 1) AS DOUBLE)
              / CAST(n_words AS DOUBLE)) >= {GOPHER_MIN_WORD_LEN}
         AND (CAST(length(n) - (n_words - 1) AS DOUBLE)
              / CAST(n_words AS DOUBLE)) <= {GOPHER_MAX_WORD_LEN}
         AND (CAST(len(regexp_extract_all(n, '#'))
                   + len(regexp_extract_all(n, '\\.\\.\\.')) AS DOUBLE)
              / CAST(n_words AS DOUBLE)) < {GOPHER_MAX_SYMBOL_RATIO}
         AND (CAST(len([l FOR l IN lines IF starts_with(ltrim(l), '-')
                        OR starts_with(ltrim(l), '*')
                        OR starts_with(ltrim(l), '•')]) AS DOUBLE)
              / CAST(n_lines AS DOUBLE)) < {GOPHER_MAX_BULLET_FRAC}
         AND (CAST(len([l FOR l IN lines IF ends_with(rtrim(l), '...')
                        OR ends_with(rtrim(l), '…')]) AS DOUBLE)
              / CAST(n_lines AS DOUBLE)) < {GOPHER_MAX_ELLIPSIS_FRAC}
         AND (CAST(len([w FOR w IN t IF regexp_matches(w, '[a-z]')]) AS DOUBLE)
              / CAST(n_words AS DOUBLE)) >= {GOPHER_MIN_ALPHA_FRAC}
         AND len([s FOR s IN {stop_lit} IF list_contains(t, s)])
             >= {GOPHER_MIN_STOP_HITS},
         false) AS keep
FROM b"""


def curation_funnel_sql(
    docs_path: str,
    gopher_min_words: int | None = None,
    gopher_min_stop_hits: int | None = None,
) -> str:
    """Twin of textstats.curation_funnel: the unit-operator twins run
    as subqueries (language/quality/gopher/repetition), cumulative
    stage flags with the same 3-valued logic, exact keep-first among
    stage-4 survivors, and the ngram pair graph + recursive closure on
    the exact survivors — stage 6 = one kept doc per component
    (count of distinct cluster ids)."""
    from logzilla_spark.operators.textstats import (
        FUNNEL_LANG,
        FUNNEL_MAX_DUP_LINE_FRAC,
        FUNNEL_MAX_TOP_BIGRAM_FRAC,
        FUNNEL_MIN_QUALITY,
    )

    gates = (
        f"pred_lang = '{FUNNEL_LANG}'",
        f"quality >= {FUNNEL_MIN_QUALITY}",
        "keep",
        f"coalesce(dup_line_frac <= {FUNNEL_MAX_DUP_LINE_FRAC}, true)"
        f" AND coalesce(top_bigram_frac <= {FUNNEL_MAX_TOP_BIGRAM_FRAC}, true)",
    )
    s = [" AND ".join(gates[:k]) for k in range(1, 5)]
    jp = ngram_jaccard_pairs_sql(
        docs_path, docs_cte="docs AS (SELECT id, n FROM keep5)"
    )
    return f"""WITH RECURSIVE docsrc AS (
  SELECT doc_id AS id, text FROM {_rel(docs_path)}
),
l AS (SELECT id, pred_lang FROM ({language_id_sql(docs_path)})),
q AS (SELECT id, quality FROM ({quality_score_sql(docs_path)})),
gq AS (SELECT id, keep FROM ({gopher_quality_filter_sql(docs_path, gopher_min_words, gopher_min_stop_hits)})),
r AS (SELECT id, dup_line_frac, top_bigram_frac
      FROM ({repetition_stats_sql(docs_path)})),
flags AS (
  SELECT d.id, ({s[0]}) AS s1, ({s[1]}) AS s2, ({s[2]}) AS s3, ({s[3]}) AS s4
  FROM docsrc d LEFT JOIN l USING (id) LEFT JOIN q USING (id)
       LEFT JOIN gq USING (id) LEFT JOIN r USING (id)
),
g4 AS (
  SELECT d.id, {_norm('d.text')} AS n
  FROM docsrc d JOIN flags USING (id) WHERE s4
),
keepers AS (SELECT min(id) AS id FROM g4 GROUP BY md5(n)),
keep5 AS (SELECT g4.id, g4.n FROM g4 JOIN keepers USING (id)),
jp AS ({jp}),
und AS (
  SELECT doc_a AS a, doc_b AS b FROM jp
  UNION
  SELECT doc_b AS a, doc_a AS b FROM jp
),
reach(id, rt) AS (
  SELECT a, a FROM und
  UNION
  SELECT und.a, reach.rt FROM und JOIN reach ON und.b = reach.id
),
cc AS (SELECT id, min(rt) AS cluster_id FROM reach GROUP BY id),
scored AS (
  SELECT k.id, coalesce(cc.cluster_id, k.id) AS cluster_id
  FROM keep5 k LEFT JOIN cc ON k.id = cc.id
)
SELECT 0 AS stage, 'input' AS label, CAST(count(*) AS BIGINT) AS n_docs
FROM docsrc
UNION ALL SELECT 1, 'language', CAST(count(*) FILTER (WHERE s1) AS BIGINT) FROM flags
UNION ALL SELECT 2, 'quality', CAST(count(*) FILTER (WHERE s2) AS BIGINT) FROM flags
UNION ALL SELECT 3, 'gopher_rules', CAST(count(*) FILTER (WHERE s3) AS BIGINT) FROM flags
UNION ALL SELECT 4, 'repetition', CAST(count(*) FILTER (WHERE s4) AS BIGINT) FROM flags
UNION ALL SELECT 5, 'exact_dedup', CAST(count(*) AS BIGINT) FROM keepers
UNION ALL SELECT 6, 'neardup_keep_best', CAST(count(DISTINCT cluster_id) AS BIGINT) FROM scored"""


def substring_dedup_sql(docs_path: str, window: int = DUP_WINDOW) -> str:
    """Twin of textstats.substring_dedup: positioned windows with the
    same floor (short docs emit one whole-doc window), the same 64-bit
    gram hash, hot = hash in >= 2 distinct docs, covered positions
    expanded per start, survivors reassembled in position order."""
    w = int(window)
    return f"""WITH {_docs_cte(docs_path)},
toks AS (SELECT id, string_split(n, ' ') AS t FROM docs WHERE n IS NOT NULL),
pw AS (
  SELECT id, p.pos AS pos, {md5_long_sql('p.g')} AS h
  FROM (SELECT id,
          unnest([struct_pack(pos := i,
                              g := array_to_string(t[i:i + {w - 1}], ' '))
                  FOR i IN range(1, greatest(len(t) - {w - 1}, 1) + 1)]) AS p
        FROM toks)
),
hot AS (SELECT h FROM pw GROUP BY h HAVING count(DISTINCT id) >= 2),
starts AS (SELECT id, list(pos) AS ss FROM pw JOIN hot USING (h) GROUP BY id),
cov AS (
  SELECT toks.id, len(toks.t) AS nt, toks.t AS t,
         list_distinct(flatten(
           [range(s, least(s + {w - 1}, len(toks.t)) + 1)
            FOR s IN coalesce(ss, [])])) AS cv
  FROM toks LEFT JOIN starts USING (id)
)
SELECT id, CAST(nt AS INT) AS n_tokens, CAST(len(cv) AS INT) AS n_removed,
       coalesce(array_to_string(
         [t[p] FOR p IN range(1, nt + 1) IF NOT list_contains(cv, p)],
         ' '), '') AS clean_text
FROM cov"""


def dsir_scores_sql(
    docs_path: str,
    target_pred: str,
    n_buckets: int = DSIR_BUCKETS,
) -> str:
    """Twin of textstats.dsir_scores: the target side is the same
    table filtered by ``target_pred`` over the doc id (the
    benchmark_contamination shape). Identical fixed-point pipeline —
    DuckDB's ``//`` on BIGINTs is the integer division matching
    Spark's ``div``, printf('%b') length-1 is the exact msb matching
    Spark's length(bin())-1, and the log2_fp(1e6) centering constant
    is computed ONCE in Python (textstats.DSIR_LOG2_FP_1M)."""
    from logzilla_spark.operators.textstats import (
        DSIR_FRAC_BITS,
        DSIR_LOG2_FP_1M,
    )

    B = int(n_buckets)
    fb = 1 << DSIR_FRAC_BITS
    return f"""WITH {_docs_cte(docs_path)},
toks AS (SELECT id, string_split(n, ' ') AS t FROM docs WHERE n IS NOT NULL),
feats AS (
  SELECT id, {md5_long_sql('g')} % {B} AS bucket
  FROM (SELECT id, unnest(list_concat(t,
          CASE WHEN len(t) >= 2
               THEN [array_to_string(t[i:i + 1], ' ')
                     FOR i IN range(1, len(t))]
               ELSE [] END)) AS g
        FROM toks)
),
rawc AS (SELECT bucket, CAST(count(*) AS BIGINT) AS rc FROM feats GROUP BY bucket),
tgtc AS (SELECT bucket, CAST(count(*) AS BIGINT) AS tc
         FROM feats WHERE {target_pred} GROUP BY bucket),
sides AS (
  SELECT b.bucket, coalesce(rc, 0) AS rc, coalesce(tc, 0) AS tc
  FROM (SELECT range AS bucket FROM range(0, {B})) b
  LEFT JOIN rawc USING (bucket) LEFT JOIN tgtc USING (bucket)
),
tot AS (SELECT CAST(sum(rc) AS BIGINT) AS rtot,
               CAST(sum(tc) AS BIGINT) AS ttot FROM sides),
r1 AS (
  SELECT bucket,
         CAST(greatest((1000000 * ((1000000 * (tc + 1)) // (ttot + {B})))
           // greatest((1000000 * (rc + 1)) // (rtot + {B}), 1), 1) AS BIGINT) AS r
  FROM sides, tot
),
llrs AS (
  SELECT bucket,
         (CAST(length(printf('%b', r)) - 1 AS BIGINT) * {fb}
          + (r * {fb}) // (1::BIGINT << (length(printf('%b', r)) - 1))
          - {fb}) - {DSIR_LOG2_FP_1M} AS llr
  FROM r1
),
docf AS (SELECT id, bucket, CAST(count(*) AS BIGINT) AS c
         FROM feats GROUP BY id, bucket)
SELECT id, CAST(sum(c) AS BIGINT) AS n_feats,
       CAST(sum(c * llr) AS BIGINT) AS logw_fp
FROM docf JOIN llrs USING (bucket)
GROUP BY id"""


def semdedup_sql(
    emb_path: str,
    dim: int = similarity.EMB_DIM,
    n_cells: int = similarity.IVF_CELLS,
    threshold: float = COSINE_THRESHOLD,
    max_cell: int = similarity.MAX_SEMDEDUP_CELL,
) -> str:
    """Twin of similarity.semdedup: the cosine_topk_ivf seeded
    quantizer + assignment, centroid cosine per member, within-cell
    pair drop under the (centroid_cos ASC, id ASC) keep-priority,
    oversized cells (> max_cell) skip the pairwise stage."""
    cos_assign = _cosine_sql("e.embedding", "s.seed", dim)
    ccos = _cosine_sql("a.embedding", "s.seed", dim)
    cosxy = _cosine_sql("x.embedding", "y.embedding", dim)
    return f"""WITH e AS (SELECT vec_id AS id, embedding FROM {_rel(emb_path)}),
seeds AS (
  SELECT CAST(row_number() OVER (ORDER BY id) - 1 AS INT) AS cell,
         embedding AS seed
  FROM (SELECT id, embedding FROM e ORDER BY id LIMIT {int(n_cells)})
),
assign AS (
  SELECT id, embedding, cell FROM (
    SELECT e.id, e.embedding, s.cell,
           row_number() OVER (PARTITION BY e.id
                              ORDER BY {cos_assign} DESC, s.cell) AS rn
    FROM e CROSS JOIN seeds s) WHERE rn = 1
),
cc AS (
  SELECT a.id, a.embedding, a.cell, {ccos} AS centroid_cos
  FROM assign a JOIN seeds s USING (cell)
),
sz AS (SELECT cell, count(*) AS csz FROM cc GROUP BY cell),
small AS (SELECT cc.* FROM cc JOIN sz USING (cell) WHERE csz <= {int(max_cell)}),
dropped AS (
  SELECT DISTINCT x.id AS id
  FROM small x JOIN small y USING (cell)
  WHERE x.id != y.id AND {cosxy} >= {threshold}
    AND (y.centroid_cos < x.centroid_cos
         OR (y.centroid_cos = x.centroid_cos AND y.id < x.id))
)
SELECT cc.id AS id, cc.cell AS cell, cc.centroid_cos AS centroid_cos,
       d.id IS NULL AS is_kept
FROM cc LEFT JOIN dropped d ON cc.id = d.id"""


# --------------------------------------------------------------------------
# sketches (operators/sketches.py)
# --------------------------------------------------------------------------


def hll_distinct_sql(
    table: str = "events",
    keys: tuple[str, ...] = ("event_type",),
    value_expr: str = "CAST(user_id AS VARCHAR)",
) -> str:
    """Twin of sketches.hll_distinct: same md5 register positions,
    bin()-length rho, fixed-point harmonic sum, and the SAME inlined
    ln-correction literal table (one Python source of truth), so
    est_distinct matches Spark's double bits exactly."""
    from logzilla_spark.operators.sketches import (
        HLL_ALPHA_NUM,
        HLL_M,
        HLL_RHO_MAX,
        HLL_SCALE,
        HLL_SMALL_RANGE,
        dlit,
        hll_ln_table_literal,
    )

    key_list = ", ".join(keys)
    h = md5_long_sql(value_expr)
    return f"""WITH base AS (
  SELECT {key_list}, {h} AS h FROM {table}
),
regs AS (
  SELECT {key_list}, CAST(h % {HLL_M} AS INT) AS register,
         CAST(CASE WHEN h // {HLL_M} = 0 THEN {HLL_RHO_MAX}
              ELSE {HLL_RHO_MAX} - length(bin(h // {HLL_M})) END AS INT) AS rho
  FROM base
),
sk AS (
  SELECT {key_list}, register, max(rho) AS rho
  FROM regs GROUP BY {key_list}, register
),
agg AS (
  SELECT {key_list}, CAST(count(*) AS INT) AS n_registers,
         CAST({HLL_M} - count(*) AS INT) AS v_zero,
         sum((1::BIGINT) << ({HLL_RHO_MAX} - rho)) AS intsum
  FROM sk GROUP BY {key_list}
),
scored AS (
  SELECT *, {dlit(HLL_ALPHA_NUM)} /
         CAST(intsum + CAST(v_zero AS BIGINT) * {HLL_SCALE} AS DOUBLE) AS est_raw
  FROM agg
)
SELECT {key_list}, n_registers, v_zero,
       CASE WHEN v_zero > 0 AND est_raw <= {dlit(HLL_SMALL_RANGE)}
            THEN list_extract({hll_ln_table_literal('[', ']')}, v_zero)
            ELSE est_raw END AS est_distinct
FROM scored"""


def cm_heavy_hitters_sql(
    table: str = "events",
    value_expr: str = "CAST(user_id AS VARCHAR)",
    k: int = 10,
) -> str:
    """Twin of sketches.cm_heavy_hitters: identical md5 counter
    positions and all-integer counts — exact match by construction."""
    from logzilla_spark.operators.sketches import CM_DEPTH, CM_WIDTH

    def col_case(val: str) -> str:
        arms = " ".join(
            "WHEN {i} THEN CAST(({h}) % {w} AS INT)".format(
                i=i,
                h=md5_long_sql(f"concat('cm{i}:', {val})"),
                w=CM_WIDTH,
            )
            for i in range(CM_DEPTH)
        )
        return f"CASE t.i {arms} END"

    return f"""WITH base AS (SELECT {value_expr} AS value FROM {table}),
pairs AS (
  SELECT CAST(t.i AS INT) AS r, {col_case('base.value')} AS c
  FROM base CROSS JOIN range({CM_DEPTH}) t(i)
),
sketch AS (
  SELECT r, c, CAST(count(*) AS BIGINT) AS cnt FROM pairs GROUP BY r, c
),
cand AS (SELECT DISTINCT value FROM base),
cpairs AS (
  SELECT cand.value, CAST(t.i AS INT) AS r, {col_case('cand.value')} AS c
  FROM cand CROSS JOIN range({CM_DEPTH}) t(i)
),
est AS (
  SELECT value, min(coalesce(cnt, 0)) AS est
  FROM cpairs LEFT JOIN sketch USING (r, c) GROUP BY value
)
SELECT value, est,
       CAST(row_number() OVER (ORDER BY est DESC, value ASC) AS INT) AS rank
FROM est ORDER BY est DESC, value ASC LIMIT {int(k)}"""


def hist_quantiles_sql(
    table: str = "events",
    keys: tuple[str, ...] = ("event_type",),
    value_expr: str = "value",
    quantiles: tuple[float, ...] = (0.5, 0.9, 0.99),
) -> str:
    """Twin of sketches.hist_quantiles: same fixed-point scaling,
    bin()-length bucket ids, integer bounds arithmetic and the single
    final IEEE divide — est matches Spark's double bits exactly. The
    only dialect differences (// vs div, << vs shiftleft) live in
    sketches._hist_ops, one source of truth for both engines."""
    from logzilla_spark.operators.sketches import (
        dlit,
        hist_bucket_expr,
        hist_estimate_expr,
        hist_scaled_expr,
    )

    key_list = ", ".join(keys)
    qlits = ", ".join(dlit(float(x)) for x in sorted(quantiles))
    return f"""WITH base AS (
  SELECT {key_list}, {hist_scaled_expr(value_expr)} AS s
  FROM {table}
  WHERE ({value_expr}) IS NOT NULL AND NOT isnan(CAST(({value_expr}) AS DOUBLE))
),
b AS (
  SELECT {key_list}, CAST({hist_bucket_expr('s', 'duck')} AS INT) AS bucket
  FROM base
),
counts AS (
  SELECT {key_list}, bucket, CAST(count(*) AS BIGINT) AS cnt
  FROM b GROUP BY {key_list}, bucket
),
cum AS (
  SELECT {key_list}, bucket,
         CAST(sum(cnt) OVER (PARTITION BY {key_list} ORDER BY bucket) AS BIGINT) AS cm,
         CAST(sum(cnt) OVER (PARTITION BY {key_list}) AS BIGINT) AS n
  FROM counts
),
qs AS (SELECT unnest([{qlits}]) AS q),
hit AS (
  SELECT {key_list}, q, n, min(bucket) AS b
  FROM cum CROSS JOIN qs
  WHERE cm >= CAST(ceil(q * CAST(n AS DOUBLE)) AS BIGINT)
  GROUP BY {key_list}, q, n
)
SELECT {key_list}, q, n, {hist_estimate_expr('b', 'duck')} AS est FROM hit"""


def bottomk_sample_sql(
    table: str = "documents",
    key_expr: str = "CAST(doc_id AS VARCHAR)",
    k: int = 100,
) -> str:
    """Twin of sketches.bottomk_sample: identical md5 priorities and
    (pri, key) order — exact match by construction."""
    return f"""WITH keys AS (SELECT DISTINCT {key_expr} AS key FROM {table}),
pri AS (SELECT key, {md5_long_sql('key')} AS pri FROM keys)
SELECT key, pri FROM pri ORDER BY pri, key LIMIT {int(k)}"""


def kmv_distinct_sql(
    table: str = "events",
    key_expr: str = "CAST(user_id AS VARCHAR)",
    k: int = 256,
) -> str:
    """Twin of sketches.kmv_distinct: same bottom-k priorities, same
    single IEEE divide — est_distinct matches Spark's double bits."""
    from logzilla_spark.operators.sketches import KMV_RANGE, dlit

    return f"""WITH keys AS (SELECT DISTINCT {key_expr} AS key FROM {table}),
pri AS (SELECT key, {md5_long_sql('key')} AS pri FROM keys),
bk AS (SELECT pri FROM pri ORDER BY pri, key LIMIT {int(k)}),
agg AS (
  SELECT CAST(count(*) AS BIGINT) AS n_sample, max(pri) AS kth FROM bk
)
SELECT n_sample,
       CASE WHEN n_sample < {int(k)} THEN CAST(n_sample AS DOUBLE)
            ELSE CAST(n_sample - 1 AS DOUBLE) /
                 (CAST(kth AS DOUBLE) / {dlit(KMV_RANGE)}) END AS est_distinct
FROM agg"""


def lm_perplexity_sql(
    docs_path: str,
    train_pred: str,
    n_buckets: int | None = None,
    head_bits: float = 9.0,
    tail_bits: float = 10.0,
) -> str:
    """Twin of textstats.lm_perplexity: hashed bigram LM trained on the
    docs matching ``train_pred`` (over the doc id), add-one smoothing,
    fixed-point log2 bits, BIGINT head/middle/tail thresholds. Same
    integer pipeline as the DSIR twin (``//`` == Spark's ``div``,
    printf('%b') msb == length(bin()))."""
    from logzilla_spark.operators.textstats import (
        DSIR_FRAC_BITS,
        DSIR_LOG2_FP_1M,
        LM_BUCKETS,
        _log2_fp,
    )

    B = int(n_buckets if n_buckets is not None else LM_BUCKETS)
    fb = 1 << DSIR_FRAC_BITS
    head_fp = round(head_bits * fb)
    tail_fp = round(tail_bits * fb)
    unseen_ctx_llp = _log2_fp(max(1_000_000 // B, 1)) - DSIR_LOG2_FP_1M
    llp = (
        f"(CAST(length(printf('%b', p1)) - 1 AS BIGINT) * {fb} "
        f"+ (p1 * {fb}) // (1::BIGINT << (length(printf('%b', p1)) - 1)) "
        f"- {fb}) - {DSIR_LOG2_FP_1M}"
    )
    return f"""WITH {_docs_cte(docs_path)},
toks AS (SELECT id, string_split(n, ' ') AS t FROM docs
         WHERE n IS NOT NULL AND len(string_split(n, ' ')) >= 2),
bg AS (
  SELECT id,
         {md5_long_sql('u.p')} % {B} AS bp,
         {md5_long_sql('u.c')} % {B} AS nb
  FROM (SELECT id, unnest([{{'p': t[i], 'c': t[i + 1]}}
                           FOR i IN range(1, len(t))]) AS u
        FROM toks)
),
pairc AS (SELECT bp, nb, CAST(count(*) AS BIGINT) AS cp
          FROM bg WHERE {train_pred} GROUP BY bp, nb),
ctxc AS (SELECT bp, CAST(sum(cp) AS BIGINT) AS cc FROM pairc GROUP BY bp),
obs AS (
  SELECT bp, nb, {llp} AS llp_obs
  FROM (SELECT bp, nb,
               greatest((1000000 * (cp + 1)) // (cc + {B}), 1) AS p1
        FROM pairc JOIN ctxc USING (bp))
),
dflt AS (
  SELECT bp, {llp} AS llp_ctx
  FROM (SELECT bp, greatest(1000000 // (cc + {B}), 1) AS p1 FROM ctxc)
),
scored AS (
  SELECT id, CAST(count(*) AS BIGINT) AS n_bigrams,
         CAST(sum(coalesce(llp_obs, llp_ctx, {unseen_ctx_llp})) AS BIGINT)
           AS logp_fp
  FROM bg LEFT JOIN obs USING (bp, nb) LEFT JOIN dflt USING (bp)
  GROUP BY id
)
SELECT id, n_bigrams, logp_fp,
       CAST(-logp_fp AS DOUBLE)
         / CAST(n_bigrams * {fb} AS DOUBLE) AS bits_per_token,
       CASE WHEN -logp_fp <= {head_fp} * n_bigrams THEN 'head'
            WHEN -logp_fp > {tail_fp} * n_bigrams THEN 'tail'
            ELSE 'middle' END AS bucket
FROM scored"""
