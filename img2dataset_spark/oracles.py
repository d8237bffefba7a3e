"""DuckDB oracle SQL for every query in `queries.py`.

The driver registers the parquet tables as views (region nation customer
supplier part orders lineitem events documents embeddings), runs each
oracle, and hash-compares against the Spark result (columns sorted by
name, order-insensitive).

Cross-engine determinism conventions (mirrored in queries.py):
  - double SUM  -> CAST(SUM(CAST(x AS DECIMAL(27,4))) AS DOUBLE)
  - AVG         -> exact-decimal sum / COUNT (double division)
  - rounding    -> FLOOR(x*10^n + 0.5)/10^n
  - timestamps  -> strftime-formatted strings
  - int div     -> explicit FLOOR division (// in DuckDB, FLOOR in Spark)
"""

ORACLES: dict[str, str] = {}

ORACLES["s7_scan_prune"] = """
SELECT l_orderkey, l_partkey, l_quantity
FROM lineitem WHERE l_quantity > 45
"""

ORACLES["p1_project_rename"] = """
SELECT c_custkey AS id, c_name AS name, c_mktsegment AS segment FROM customer
"""

ORACLES["p5p7_predicates"] = """
SELECT p_partkey, p_size AS w, CAST(FLOOR(p_retailprice/100) AS INT) AS h
FROM part
WHERE least(p_size, CAST(FLOOR(p_retailprice/100) AS INT)) >= 5
  AND p_size * CAST(FLOOR(p_retailprice/100) AS INT) <= 400
  AND greatest(p_size, CAST(FLOOR(p_retailprice/100) AS INT))
      / least(p_size, CAST(FLOOR(p_retailprice/100) AS INT)) <= 3.0
"""

ORACLES["a1_status_counts"] = """
SELECT event_type,
       COUNT(*) AS cnt,
       COUNT(DISTINCT user_id) AS users,
       CAST(SUM(CAST(value AS DECIMAL(27,4))) AS DOUBLE) AS total_value
FROM events GROUP BY event_type
"""

ORACLES["a2_error_topk"] = """
SELECT CAST(regexp_extract(props, '([0-9]+)', 1) AS INT) AS err_key,
       COUNT(*) AS cnt
FROM events WHERE event_type = 'error'
GROUP BY 1 ORDER BY cnt DESC, err_key ASC LIMIT 10
"""

ORACLES["a3_global_agg"] = """
SELECT COUNT(*) AS cnt,
       COUNT(CASE WHEN event_type <> 'error' THEN 1 END) AS successes,
       CAST(SUM(CAST(value AS DECIMAL(27,4))) AS DOUBLE) AS total_value,
       COUNT(CASE WHEN event_type <> 'error' THEN 1 END) / COUNT(*) AS success_rate
FROM events
"""

ORACLES["a6_distinct_set"] = """
SELECT DISTINCT event_type FROM events
"""

ORACLES["o1_sort_events"] = """
SELECT event_id, strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_s, event_type
FROM events ORDER BY ts, event_id LIMIT 100
"""

ORACLES["o2_topk"] = """
SELECT o_orderkey, o_totalprice FROM orders
ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 10
"""

ORACLES["j1_anti_join"] = """
SELECT c_custkey, c_name FROM customer c
WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
"""

ORACLES["j2_semi_join"] = """
SELECT p_partkey, p_name FROM part p
WHERE EXISTS (
  SELECT 1 FROM lineitem l
  WHERE l.l_partkey = p.p_partkey
    AND l.l_shipdate >= TIMESTAMP '1995-01-01 00:00:00'
    AND l.l_shipdate <  TIMESTAMP '1995-02-01 00:00:00')
"""

ORACLES["j3_union"] = """
SELECT DISTINCT o_custkey FROM (
  SELECT o_custkey FROM orders WHERE o_totalprice > 400000
  UNION ALL
  SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT')
"""

ORACLES["w1_row_number"] = """
SELECT o_custkey, o_orderkey, rn FROM (
  SELECT o_custkey, o_orderkey,
         ROW_NUMBER() OVER (PARTITION BY o_custkey
                            ORDER BY o_orderdate, o_orderkey) AS rn
  FROM orders) WHERE rn <= 3
"""

ORACLES["w2_running_sum"] = """
SELECT o_custkey, o_orderkey,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(27,4))) OVER (
         PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
       AS running_spend
FROM orders
"""

ORACLES["tpch_q1"] = """
SELECT l_returnflag, l_linestatus,
  CAST(SUM(CAST(l_quantity AS DECIMAL(27,4))) AS DOUBLE) AS sum_qty,
  CAST(SUM(CAST(l_extendedprice AS DECIMAL(27,4))) AS DOUBLE) AS sum_base_price,
  CAST(SUM(CAST(l_extendedprice*(1-l_discount) AS DECIMAL(27,4))) AS DOUBLE) AS sum_disc_price,
  CAST(SUM(CAST(l_extendedprice*(1-l_discount)*(1+l_tax) AS DECIMAL(27,6))) AS DOUBLE) AS sum_charge,
  CAST(SUM(CAST(l_quantity AS DECIMAL(27,4))) AS DOUBLE) / COUNT(*) AS avg_qty,
  CAST(SUM(CAST(l_extendedprice AS DECIMAL(27,4))) AS DOUBLE) / COUNT(*) AS avg_price,
  CAST(SUM(CAST(l_discount AS DECIMAL(27,4))) AS DOUBLE) / COUNT(*) AS avg_disc,
  COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
"""

ORACLES["tpch_q3"] = """
SELECT l_orderkey,
  CAST(SUM(CAST(l_extendedprice*(1-l_discount) AS DECIMAL(27,4))) AS DOUBLE) AS revenue
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING'
GROUP BY l_orderkey
ORDER BY revenue DESC, l_orderkey ASC LIMIT 10
"""

ORACLES["tpch_q5"] = """
SELECT n_name,
  CAST(SUM(CAST(l_extendedprice*(1-l_discount) AS DECIMAL(27,4))) AS DOUBLE) AS revenue
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
GROUP BY n_name
"""

# --- engine operators as queries -------------------------------------------

_SHARDED_100 = """
  SELECT doc_id,
         (ROW_NUMBER() OVER (ORDER BY doc_id) - 1) AS idx,
         (ROW_NUMBER() OVER (ORDER BY doc_id) - 1) // 100 AS shard_id
  FROM documents
"""

ORACLES["r1_sharding"] = f"""
SELECT shard_id, COUNT(*) AS cnt, MIN(doc_id) AS min_id, MAX(doc_id) AS max_id
FROM ({_SHARDED_100}) GROUP BY shard_id
"""

ORACLES["t12_keys"] = f"""
SELECT doc_id, shard_id, printf('%05d%02d', shard_id, idx % 100) AS key
FROM ({_SHARDED_100}) WHERE doc_id < 150
"""

# Hash-mode shard assignment follows Spark's physical partitioning, so the
# oracle checks the partition-independent invariant: every row keeps a
# distinct key (the pipeline keeps failed rows, so n == count(documents)).
ORACLES["t12_keys_hash_mode"] = """
SELECT COUNT(*) AS n, COUNT(*) AS n_distinct_keys FROM documents
"""

ORACLES["a5_resume_point"] = f"""
SELECT MAX(shard_id) + 1 AS start_shard_id FROM ({_SHARDED_100})
"""

ORACLES["p8_done_shard_skip"] = """
SELECT DISTINCT (ROW_NUMBER() OVER (ORDER BY doc_id) - 1) // 50 AS shard_id
FROM documents QUALIFY shard_id % 2 = 1
"""

ORACLES["t11_hashes"] = """
SELECT doc_id, md5(text) AS md5_hex, sha256(text) AS sha256_hex
FROM documents WHERE doc_id < 100
"""

ORACLES["p4_hash_verify"] = """
SELECT doc_id,
  CASE WHEN expected = actual THEN 'success' ELSE 'failed_to_download' END AS status,
  CASE WHEN expected <> actual THEN 'hash mismatch' END AS error_message
FROM (
  SELECT doc_id,
    CASE WHEN doc_id % 13 = 0 THEN md5('wrong|' || text) ELSE md5(text) END AS expected,
    md5(text) AS actual
  FROM documents)
"""

# ---------------------------------------------------------------------------
# Beyond-reference operators: shared SQL fragments (built programmatically —
# the formulas must mirror functions/text.py & operators/* exactly)
# ---------------------------------------------------------------------------

_TOKS = "regexp_split_to_array(trim(lower(text)), '\\s+')"

# word 3-gram shingles over a token list column named `toks`
_SHINGLES = (
    "CASE WHEN len(toks) >= 3 THEN "
    "list_transform(generate_series(1, len(toks)-2), "
    "i -> array_to_string(toks[i:i+2], ' ')) "
    "ELSE []::VARCHAR[] END"
)

_NORm = "regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')"

_EN_STOP = "['the','a','an','of','and','to','in','is','it','that']"

_LANG_LISTS = {
    "de": "['der','die','das','und','ist','nicht','ein','mit']",
    "en": "['the','a','of','and','is','to','in','it']",
    "es": "['el','la','de','que','y','los','es','un']",
    "fr": "['le','la','de','et','est','les','des','un']",
    "zh": "['的','是','了','在','我','有','和','不']",
}

_R6 = "FLOOR(({x})*1e6 + 0.5)/1e6"


_STOPRATIO = _R6.format(
    x=(
        "CASE WHEN len(toks) > 0 THEN "
        f"len(list_filter(toks, x -> list_contains({_EN_STOP}, x))) / len(toks) "
        "ELSE 0.0 END"
    )
)
_PUNCTRATIO = _R6.format(
    x=(
        "CASE WHEN length(text) > 0 THEN "
        "length(regexp_replace(text, '[a-zA-Z0-9\\s]', '', 'g')) / length(text) "
        "ELSE 0.0 END"
    )
)

# As-of join: right side first deduped to one row per (user_id, ts)
# (greatest event_id wins) so both engines pick the same match; DuckDB's
# native ASOF LEFT JOIN then equals the Spark union-merge plan.
ORACLES["events_asof"] = """
WITH l AS (
  SELECT user_id, event_id, ts FROM events WHERE event_type = 'purchase'
),
r AS (
  SELECT user_id, ts,
         arg_max(event_id, event_id) AS r_event_id,
         arg_max(value, event_id) AS r_value
  FROM events WHERE event_type = 'click'
  GROUP BY user_id, ts
)
SELECT l.user_id, l.event_id,
       strftime(l.ts, '%Y-%m-%d %H:%M:%S.%f') AS ts_s,
       r.r_event_id AS click_event_id,
       strftime(r.ts, '%Y-%m-%d %H:%M:%S.%f') AS click_ts_s,
       r.r_value AS click_value
FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.ts >= r.ts
"""

ORACLES["events_window"] = """
SELECT strftime(time_bucket(INTERVAL '1 hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
       event_type,
       COUNT(*) AS cnt,
       CAST(SUM(CAST(value AS DECIMAL(27,4))) AS DOUBLE) AS total_value
FROM events GROUP BY 1, 2
"""

ORACLES["sessionize"] = """
WITH l AS (
  SELECT user_id, event_id, ts, value,
    CASE WHEN epoch(ts) - epoch(lag(ts) OVER w) > 1800 THEN 1 ELSE 0 END AS ns
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
s AS (
  SELECT *, SUM(ns) OVER (PARTITION BY user_id ORDER BY ts, event_id
                          ROWS UNBOUNDED PRECEDING) AS sid
  FROM l
)
SELECT user_id,
       strftime(MIN(ts), '%Y-%m-%d %H:%M:%S.%f') AS session_start,
       strftime(MAX(ts), '%Y-%m-%d %H:%M:%S.%f') AS session_end,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(27,4))) AS DOUBLE) AS total_value
FROM s GROUP BY user_id, sid
"""

ORACLES["text_stats"] = f"""
WITH t AS (SELECT doc_id, text, {_TOKS} AS toks FROM documents)
SELECT doc_id,
  length(text) AS n_chars,
  len(toks) AS n_tokens,
  len(list_distinct(toks)) AS n_distinct_tokens,
  {_STOPRATIO} AS stopword_ratio,
  {_PUNCTRATIO} AS punct_ratio,
  md5({_NORm}) AS fingerprint
FROM t
"""

# Rolling hash: list_reduce's seedless fold equals the Horner fold with
# init 0 (first step acc = code_1); codes and modulus are integers, so the
# engines agree exactly.  Regex classes in BPE_TOKEN_RE are restricted to
# constructs with identical Java/RE2 semantics.
ORACLES["text_fingerprint"] = """
WITH n AS (SELECT doc_id, regexp_replace(trim(lower(text)), '\\s+', ' ', 'g') AS t,
                  lower(text) AS lt
           FROM documents)
SELECT doc_id,
  CASE WHEN length(t) = 0 THEN 0 ELSE
    list_reduce(
      list_transform(generate_series(1, length(t)),
                     i -> CAST(ascii(substr(t, i, 1)) AS BIGINT)),
      (acc, c) -> (acc * 257 + c) % 1000000007)
  END AS rolling_hash,
  len(regexp_extract_all(lt,
      '''s|''t|''re|''ve|''m|''ll|''d| ?[a-zA-Z]+| ?[0-9]+| ?[^\\sa-zA-Z0-9]+'))
  AS bpe_tokens
FROM n
"""

_LANG_SCORES = ", ".join(
    f"len(list_filter(toks, x -> list_contains({lst}, x))) AS s_{lang}"
    for lang, lst in _LANG_LISTS.items()
)
_G = "greatest(s_de, s_en, s_es, s_fr, s_zh)"

ORACLES["text_langid"] = f"""
WITH t AS (SELECT {_TOKS} AS toks FROM documents),
s AS (SELECT {_LANG_SCORES} FROM t)
SELECT pred_lang, COUNT(*) AS cnt FROM (
  SELECT CASE WHEN {_G} = 0 THEN 'und'
    WHEN s_de = {_G} THEN 'de'
    WHEN s_en = {_G} THEN 'en'
    WHEN s_es = {_G} THEN 'es'
    WHEN s_fr = {_G} THEN 'fr'
    ELSE 'zh' END AS pred_lang FROM s)
GROUP BY pred_lang
"""

ORACLES["dedup_exact"] = f"""
SELECT MIN(doc_id) AS doc_id, md5({_NORm}) AS fingerprint, COUNT(*) AS dup_count
FROM documents GROUP BY 2
"""

_HEXDIGIT_S = (
    "(CASE WHEN ascii(substr({h}, {i}, 1)) >= 97 "
    "THEN ascii(substr({h}, {i}, 1)) - 87 ELSE ascii(substr({h}, {i}, 1)) - 48 END)"
)


def _hv_of(h: str) -> str:
    """32-bit fold of the first 8 hex chars of md5-hex column {h} —
    identical to functions.text.hex_to_int32."""
    return " + ".join(
        f"{_HEXDIGIT_S.format(h=h, i=i)}::BIGINT * {16 ** (8 - i)}"
        for i in range(1, 9)
    )


# Shingle sets are stored as their 32-bit md5 fold (h32), NOT strings —
# the same compact representation operators/dedup.doc_shingles persists
# (SCALE.md §5.3: ~5-8x smaller frame).  distinct-then-hash equals
# hash-then-distinct, and both engines apply the identical fold, so
# Jaccard/minhash/simhash agree bit-for-bit even on a 32-bit collision.
_DOCS_SS = f"""
  SELECT doc_id, source,
         list_distinct(list_transform({_SHINGLES}, s -> {_hv_of('md5(s)')})) AS ss
  FROM (SELECT doc_id, source, text, {_TOKS} AS toks FROM documents)
"""

_JACCARD = (
    "FLOOR((len(list_intersect(a.ss, b.ss)) / "
    "(len(a.ss) + len(b.ss) - len(list_intersect(a.ss, b.ss))))*1e6 + 0.5)/1e6"
)

ORACLES["dedup_ngram_jaccard"] = f"""
WITH docs AS ({_DOCS_SS}), d AS (SELECT * FROM docs WHERE len(ss) > 0)
SELECT id_a, id_b, jaccard FROM (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, {_JACCARD} AS jaccard
  FROM d a JOIN d b ON a.source = b.source AND a.doc_id < b.doc_id)
WHERE jaccard >= 0.3
"""

def _minhash_sig_sql() -> str:
    """sig[s] = min((a_s*(h % P) + b_s) % P) over the h32 shingle set —
    same coefficients as the band UDF (functions.text.minhash_coeffs);
    ss already holds the h32 values."""
    from img2dataset_spark.functions.text import MINHASH_PRIME, minhash_coeffs

    p = MINHASH_PRIME
    elems = ", ".join(
        f"list_min(list_transform(ss, h -> ({a}::BIGINT * (h % {p}) + {b}) % {p}))"
        for a, b in minhash_coeffs(32)
    )
    return f"[{elems}]"


ORACLES["dedup_minhash_lsh"] = f"""
WITH docs AS ({_DOCS_SS}),
d AS (SELECT doc_id, ss FROM docs WHERE len(ss) > 0),
sigs AS (
  SELECT doc_id, ss, {_minhash_sig_sql()} AS sig FROM d),
banded AS (
  SELECT doc_id, unnest(
    list_transform(generate_series(0, 7), b ->
      b::VARCHAR || ':' || md5(array_to_string(sig[b*4+1:b*4+4], ',')))
  ) AS band FROM sigs),
ok_bands AS (SELECT band FROM banded GROUP BY band HAVING COUNT(*) <= 1000),
bb AS (SELECT doc_id, band FROM banded WHERE band IN (SELECT band FROM ok_bands)),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bb a JOIN bb b ON a.band = b.band AND a.doc_id < b.doc_id)
SELECT id_a, id_b, jaccard FROM (
  SELECT c.id_a, c.id_b, {_JACCARD} AS jaccard
  FROM cand c
  JOIN d a ON a.doc_id = c.id_a
  JOIN d b ON b.doc_id = c.id_b)
WHERE jaccard >= 0.3
"""

# Cross-corpus screening: wave (doc_id % 3 = 0) vs corpus (the rest),
# both banded from the SAME signature CTE as the self-join oracle;
# bucket cap applies to the corpus side only (mirroring the operator),
# output ordered (wave id, corpus id).
ORACLES["dedup_vs_corpus"] = f"""
WITH docs AS ({_DOCS_SS}),
d AS (SELECT doc_id, ss FROM docs WHERE len(ss) > 0),
sigs AS (
  SELECT doc_id, ss, {_minhash_sig_sql()} AS sig FROM d),
banded AS (
  SELECT doc_id, unnest(
    list_transform(generate_series(0, 7), b ->
      b::VARCHAR || ':' || md5(array_to_string(sig[b*4+1:b*4+4], ',')))
  ) AS band FROM sigs),
bn AS (SELECT doc_id, band FROM banded WHERE doc_id % 3 = 0),
br AS (SELECT doc_id, band FROM banded WHERE doc_id % 3 <> 0),
ok_bands AS (SELECT band FROM br GROUP BY band HAVING COUNT(*) <= 1000),
brc AS (SELECT doc_id, band FROM br WHERE band IN (SELECT band FROM ok_bands)),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bn a JOIN brc b ON a.band = b.band)
SELECT id_a, id_b, jaccard FROM (
  SELECT c.id_a, c.id_b, {_JACCARD} AS jaccard
  FROM cand c
  JOIN d a ON a.doc_id = c.id_a
  JOIN d b ON b.doc_id = c.id_b)
WHERE jaccard >= 0.3
"""

# The stored-index probe is pair-for-pair identical to the direct
# two-frame call (test-pinned), so it shares the oracle verbatim.
ORACLES["dedup_vs_corpus_indexed"] = ORACLES["dedup_vs_corpus"]

# Connected components over the minhash-LSH pair edges: the recursive
# CTE materializes full reachability (fine at oracle scale; Spark uses
# iterative min-label propagation instead), then component = min
# reachable id (LEAST with self covers single-edge nodes).
ORACLES["dedup_components"] = f"""
WITH RECURSIVE pairs AS ({ORACLES["dedup_minhash_lsh"]}),
edges AS (
  SELECT id_a AS a, id_b AS b FROM pairs
  UNION
  SELECT id_b AS a, id_a AS b FROM pairs
),
reach(a, b) AS (
  SELECT a, b FROM edges
  UNION
  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
)
SELECT a AS doc_id, LEAST(a, MIN(b)) AS component
FROM reach GROUP BY a
"""

# The two-phase (large-star/small-star) Spark implementation must
# produce byte-identical clusters, so it checks against the same SQL.
ORACLES["dedup_components_2phase"] = ORACLES["dedup_components"]

# -- simhash: bit votes over the h32 shingle sets, expressed relationally ---

ORACLES["dedup_simhash"] = f"""
WITH docs AS ({_DOCS_SS}),
d AS (SELECT doc_id, ss FROM docs WHERE len(ss) > 0),
hv AS (SELECT doc_id, unnest(ss) AS h32 FROM d),
votes AS (
  SELECT doc_id, b,
    SUM(((h32 // CAST(power(2, b) AS BIGINT)) % 2) * 2 - 1) AS vote
  FROM hv, (SELECT unnest(generate_series(0, 31)) AS b)
  GROUP BY doc_id, b),
sim AS (
  SELECT doc_id,
    SUM(CASE WHEN vote > 0 THEN CAST(power(2, b) AS BIGINT) ELSE 0 END) AS simhash
  FROM votes GROUP BY doc_id),
blocked AS (SELECT doc_id, simhash, simhash // 268435456 AS block FROM sim)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       bit_count(xor(a.simhash, b.simhash)) AS hamming
FROM blocked a JOIN blocked b ON a.block = b.block AND a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= 10
"""

# Multi-probe rotations (operators.dedup.simhash_pairs probes>1):
# rot32(h, r) = ((h*2^r) % 2^32 + h // 2^(32-r)), block = high bits.
_SIMHASH_PREAMBLE = f"""
WITH docs AS ({_DOCS_SS}),
d AS (SELECT doc_id, ss FROM docs WHERE len(ss) > 0),
hv AS (SELECT doc_id, unnest(ss) AS h32 FROM d),
votes AS (
  SELECT doc_id, b,
    SUM(((h32 // CAST(power(2, b) AS BIGINT)) % 2) * 2 - 1) AS vote
  FROM hv, (SELECT unnest(generate_series(0, 31)) AS b)
  GROUP BY doc_id, b),
sim AS (
  SELECT doc_id,
    SUM(CASE WHEN vote > 0 THEN CAST(power(2, b) AS BIGINT) ELSE 0 END) AS simhash
  FROM votes GROUP BY doc_id)"""


def _simhash_probe_entries(probes: int, block_bits: int) -> str:
    entries = []
    for i in range(probes):
        r = i * 32 // probes
        rot = f"(simhash * {2**r}) % 4294967296 + simhash // {2**(32-r)}"
        entries.append(
            f"struct_pack(p := {i}, block := ({rot}) // {2**(32-block_bits)})"
        )
    return "[" + ", ".join(entries) + "]"


ORACLES["dedup_simhash_multiprobe"] = f"""
{_SIMHASH_PREAMBLE},
blocked AS (
  SELECT doc_id, simhash, u.p AS p, u.block AS block FROM (
    SELECT doc_id, simhash,
           unnest({_simhash_probe_entries(4, 8)}) AS u
    FROM sim))
SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
       bit_count(xor(a.simhash, b.simhash)) AS hamming
FROM blocked a JOIN blocked b
  ON a.p = b.p AND a.block = b.block AND a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= 10
"""

# -- similarity search ------------------------------------------------------

_DOT = (
    "list_sum(list_transform(generate_series(1, len({a})), i -> {a}[i]*{b}[i]))"
)


def _cos(a: str, b: str) -> str:
    return (
        f"({_DOT.format(a=a, b=b)} / "
        f"(sqrt({_DOT.format(a=a, b=a)}) * sqrt({_DOT.format(a=b, b=b)})))"
    )


ORACLES["ann_cosine_topk"] = f"""
WITH e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v
           FROM embeddings),
q AS (SELECT v AS qv FROM e WHERE vec_id = 0)
SELECT vec_id, {_R6.format(x=_cos('v', 'qv'))} AS cos_sim
FROM e, q
ORDER BY cos_sim DESC, vec_id ASC LIMIT 10
"""

ORACLES["ann_ivf_topk"] = f"""
WITH e AS (SELECT vec_id, label, list_transform(embedding, x -> x::DOUBLE) AS v
           FROM embeddings),
dims AS (
  SELECT label, i,
    CAST(SUM(CAST(v[i] AS DECIMAL(28,12))) AS DOUBLE) / COUNT(*) AS cv
  FROM e, (SELECT unnest(generate_series(1, 64)) AS i)
  GROUP BY label, i),
cent AS (SELECT label, list(cv ORDER BY i) AS c FROM dims GROUP BY label),
q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
probe AS (
  SELECT label FROM (
    SELECT label, {_R6.format(x=_cos('c', 'qv'))} AS c_sim FROM cent, q)
  ORDER BY c_sim DESC, label ASC LIMIT 2)
SELECT vec_id, {_R6.format(x=_cos('v', 'qv'))} AS cos_sim
FROM e, q WHERE label IN (SELECT label FROM probe)
ORDER BY cos_sim DESC, vec_id ASC LIMIT 10
"""

ORACLES["embedding_dup_pairs"] = f"""
WITH e AS (SELECT vec_id, label, list_transform(embedding, x -> x::DOUBLE) AS v
           FROM embeddings)
SELECT id_a, id_b, cos_sim FROM (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         {_R6.format(x=_cos('a.v', 'b.v'))} AS cos_sim
  FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id)
WHERE cos_sim >= 0.3
"""

# -- IVF fit/transform: deterministic 2-iteration k-means -------------------

# Assignment distance = exact int64 squared-L2 over 2^-20 fixed-point
# quantized vectors AND centroids (matching similarity._assign_cells's
# Arrow matmul — order-independent integer sums, no fold hazard).
_QL2 = (
    "list_sum(list_transform(generate_series(1, 64), "
    "i -> ({a}[i]-{b}[i])*({a}[i]-{b}[i])))"
)
_QUANTIZE = "list_transform({v}, x -> CAST(floor(x*1048576 + 0.5) AS BIGINT))"


def _kmeans_iter_sql(n: int, prev_c: str, src: str = "e") -> str:
    """One Lloyd iteration: quantized-distance argmin assignment
    (tie-break by cell) then exact-decimal means — mirrors
    similarity.ivf_fit step for step.  ``src`` is the TRAINING frame
    (default the whole corpus ``e``; the wave-append twin fits on the
    base slice only)."""
    d = _QL2.format(a="q.qv", b="c.qc")
    return f"""
cq{n} AS (SELECT cell, {_QUANTIZE.format(v='centroid')} AS qc FROM {prev_c}),
a{n} AS (SELECT vec_id, v, cell FROM (
  SELECT q.vec_id, q.v, c.cell,
         row_number() OVER (PARTITION BY q.vec_id ORDER BY {d}, c.cell) AS rn
  FROM {src} q, cq{n} c) WHERE rn = 1),
d{n} AS (SELECT cell, i,
           CAST(SUM(CAST(v[i] AS DECIMAL(28,12))) AS DOUBLE)/COUNT(*) AS cv
         FROM a{n}, (SELECT unnest(generate_series(1, 64)) AS i)
         GROUP BY cell, i),
c{n} AS (SELECT cell, list(cv ORDER BY i) AS centroid FROM d{n} GROUP BY cell)"""


ORACLES["ann_ivf_fit_topk"] = f"""
WITH e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v,
                  {_QUANTIZE.format(v='list_transform(embedding, x -> x::DOUBLE)')} AS qv
           FROM embeddings),
seeds AS (SELECT vec_id, v FROM e
          ORDER BY md5(vec_id::VARCHAR), vec_id LIMIT 10),
c0 AS (SELECT row_number() OVER (ORDER BY md5(vec_id::VARCHAR), vec_id) - 1
         AS cell, v AS centroid FROM seeds),
{_kmeans_iter_sql(1, 'c0')},
{_kmeans_iter_sql(2, 'c1')},
cqf AS (SELECT cell, {_QUANTIZE.format(v='centroid')} AS qc FROM c2),
af AS (SELECT vec_id, v, cell FROM (
  SELECT q.vec_id, q.v, c.cell,
         row_number() OVER (PARTITION BY q.vec_id
                            ORDER BY {_QL2.format(a='q.qv', b='c.qc')},
                                     c.cell) AS rn
  FROM e q, cqf c) WHERE rn = 1),
qq AS (SELECT v AS qv FROM e WHERE vec_id = 0),
probe AS (
  SELECT cell FROM (
    SELECT cell, {_R6.format(x=_cos('centroid', 'qv'))} AS c_sim FROM c2, qq)
  ORDER BY c_sim DESC, cell ASC LIMIT 2)
SELECT vec_id, {_R6.format(x=_cos('v', 'qv'))} AS cos_sim
FROM af, qq WHERE cell IN (SELECT cell FROM probe)
ORDER BY cos_sim DESC, vec_id ASC LIMIT 10
"""

# -- Product quantization: per-subspace Lloyd + ADC scan --------------------
# Mirrors operators/pq.py expression-for-expression: each subspace is an
# independent md5-seeded 2-iteration k-means over the vector SLICE
# (decimal means, quantized-argmin assignment, smallest-code ties), the
# ADC table is exact int64 squared-L2 between quantized query subvector
# and quantized centroids, and the scan sums the per-subspace lookups.

_QL2_N = (
    "list_sum(list_transform(generate_series(1, {n}), "
    "i -> ({a}[i]-{b}[i])*({a}[i]-{b}[i])))"
)


def _pq_sub_sql(
    j: int,
    lo: int,
    hi: int,
    k: int,
    iters: int,
    query: bool = True,
    fit_where: str = "",
    prefix: str = "",
    src: str = "e0",
) -> str:
    """CTE chain for subspace ``j`` over slice v[lo:hi]: training frame,
    seeds, ``iters`` Lloyd iterations, final quantized codebook, corpus
    code assignment, and (``query=True``) the query-side ADC distances
    from e0's vec_id=0 row; residual twins pass query=False and build
    per-probed-cell qd CTEs themselves.  ``fit_where`` restricts the
    TRAINING frame (seeds + Lloyd) to a predicate over es{j} while the
    code assignment still covers every e0 row — the wave-append twin:
    codebooks fit on the base slice, codes for base + wave alike.
    ``prefix`` namespaces every generated CTE and ``src`` names the
    encode-source frame, so TWO books (e.g. a raw and a residual one)
    can coexist in one query — the refit-recall-ledger twin."""
    p = prefix
    n = hi - lo + 1
    d_assign = _QL2_N.format(n=n, a="q.qv", b="c.qc")
    fit_src = f"{p}esb{j}" if fit_where else f"{p}es{j}"
    head = f"""{p}es{j} AS (SELECT vec_id, v[{lo}:{hi}] AS v,
  {_QUANTIZE.format(v=f'v[{lo}:{hi}]')} AS qv FROM {src})"""
    if fit_where:
        head += f""",
{p}esb{j} AS (SELECT * FROM {p}es{j} WHERE {fit_where})"""
    parts = [
        head
        + f""",
{p}seeds{j} AS (SELECT vec_id, v FROM {fit_src}
  ORDER BY md5(vec_id::VARCHAR), vec_id LIMIT {k}),
{p}c{j}x0 AS (SELECT row_number() OVER (ORDER BY md5(vec_id::VARCHAR), vec_id) - 1
  AS cell, v AS centroid FROM {p}seeds{j})"""
    ]
    for i in range(1, iters + 1):
        parts.append(
            f"""{p}cq{j}x{i} AS (SELECT cell, {_QUANTIZE.format(v='centroid')} AS qc
  FROM {p}c{j}x{i - 1}),
{p}a{j}x{i} AS (SELECT vec_id, v, cell FROM (
  SELECT q.vec_id, q.v, c.cell,
         row_number() OVER (PARTITION BY q.vec_id ORDER BY {d_assign}, c.cell) AS rn
  FROM {fit_src} q, {p}cq{j}x{i} c) WHERE rn = 1),
{p}d{j}x{i} AS (SELECT cell, i,
    CAST(SUM(CAST(v[i] AS DECIMAL(28,12))) AS DOUBLE)/COUNT(*) AS cv
  FROM {p}a{j}x{i}, (SELECT unnest(generate_series(1, {n})) AS i)
  GROUP BY cell, i),
{p}c{j}x{i} AS (SELECT cell, list(cv ORDER BY i) AS centroid FROM {p}d{j}x{i} GROUP BY cell)"""
        )
    tail = f"""{p}cqf{j} AS (SELECT cell, {_QUANTIZE.format(v='centroid')} AS qc
  FROM {p}c{j}x{iters}),
{p}code{j} AS (SELECT vec_id, cell FROM (
  SELECT q.vec_id, c.cell,
         row_number() OVER (PARTITION BY q.vec_id ORDER BY {d_assign}, c.cell) AS rn
  FROM {p}es{j} q, {p}cqf{j} c) WHERE rn = 1)"""
    if query:
        tail += f""",
{p}qs{j} AS (SELECT {_QUANTIZE.format(v=f'v[{lo}:{hi}]')} AS qv FROM {src} WHERE vec_id = 0),
{p}qd{j} AS (SELECT c.cell, {_QL2_N.format(n=n, a='q.qv', b='c.qc')} AS d
  FROM {p}cqf{j} c, {p}qs{j} q)"""
    parts.append(tail)
    return ",\n".join(parts)


ORACLES["pq_adc_topk"] = f"""
WITH e0 AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v
            FROM embeddings),
{_pq_sub_sql(0, 1, 32, 4, 2)},
{_pq_sub_sql(1, 33, 64, 4, 2)}
SELECT e0.vec_id, CAST(qd0.d + qd1.d AS BIGINT) AS adc_dist
FROM e0
JOIN code0 ON code0.vec_id = e0.vec_id
JOIN code1 ON code1.vec_id = e0.vec_id
JOIN qd0 ON qd0.cell = code0.cell
JOIN qd1 ON qd1.cell = code1.cell
ORDER BY adc_dist ASC, e0.vec_id ASC LIMIT 10
"""

# Packed codes are a STORAGE representation (byte-packed words,
# shift+mask slices in the scan); codebooks, code assignment and the
# int64 ADC sums are bit-identical, so the packed row shares the twin.
ORACLES["pq_adc_topk_packed"] = ORACLES["pq_adc_topk"]

# Hierarchical codebook path with coarse_cells=1: the fine level is one
# global _local_lloyd, so the twin is the flat global-Lloyd k-means
# (k=4, 2 iters) and the row certifies the two-hop ASSIGNMENT output.
# _local_lloyd's float64 means vs decimal(28,12) here agree after the
# 2^-20 centroid quantization (documented divergence; the parity pytest
# pins flat-vs-hier assignment equality on the same data).
ORACLES["ann_ivf_hier_assign"] = f"""
WITH e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v,
                  {_QUANTIZE.format(v='list_transform(embedding, x -> x::DOUBLE)')} AS qv
           FROM embeddings),
seeds AS (SELECT vec_id, v FROM e
          ORDER BY md5(vec_id::VARCHAR), vec_id LIMIT 4),
c0 AS (SELECT row_number() OVER (ORDER BY md5(vec_id::VARCHAR), vec_id) - 1
         AS cell, v AS centroid FROM seeds),
{_kmeans_iter_sql(1, 'c0')},
{_kmeans_iter_sql(2, 'c1')},
cqf AS (SELECT cell, {_QUANTIZE.format(v='centroid')} AS qc FROM c2)
SELECT vec_id, cell FROM (
  SELECT q.vec_id, c.cell,
         row_number() OVER (PARTITION BY q.vec_id
                            ORDER BY {_QL2.format(a='q.qv', b='c.qc')},
                                     c.cell) AS rn
  FROM e q, cqf c) WHERE rn = 1
"""

# IVF+PQ composition: the ann_ivf_fit_topk coarse fit + probe restricts
# the ADC scan to the top-nprobe cells' codes.  Reuses _kmeans_iter_sql
# (coarse, names c0/c1/c2) and _pq_sub_sql (subspaces, names c{j}x{i})
# — distinct CTE namespaces by construction.


def _l2_probe_sql(nprobe: int) -> str:
    """The L2-family probe rule (the production default since round
    12): exact int64 squared-L2 between the 2^-20 quantized query and
    quantized centroids, ascending, cell-ascending ties — mirroring
    similarity.probe_cells(metric="l2"), the ASSIGNMENT metric.  qq
    keeps ``qv`` = the RAW query vector (residual CTEs subtract it
    from raw centroids) and adds ``qvq`` = the quantized one the
    probe ranks with."""
    return f"""qq AS (SELECT v AS qv, qv AS qvq FROM e WHERE vec_id = 0),
probe AS (
  SELECT cell FROM (
    SELECT c.cell, {_QL2.format(a='q.qvq', b='c.qc')} AS pd
    FROM cqf c, qq q)
  ORDER BY pd ASC, cell ASC LIMIT {nprobe})"""


def _ivfpq_ctes(nprobe: int = 2) -> str:
    """The shared IVF+PQ CTE chain with a parameterized probe LIMIT —
    the sized twin (ivfpq_topk_sized) pins recommended_nprobe(10)=4
    statically here, everything else identical."""
    return f"""
WITH e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v,
                  {_QUANTIZE.format(v='list_transform(embedding, x -> x::DOUBLE)')} AS qv
           FROM embeddings),
seeds AS (SELECT vec_id, v FROM e
          ORDER BY md5(vec_id::VARCHAR), vec_id LIMIT 10),
c0 AS (SELECT row_number() OVER (ORDER BY md5(vec_id::VARCHAR), vec_id) - 1
         AS cell, v AS centroid FROM seeds),
{_kmeans_iter_sql(1, 'c0')},
{_kmeans_iter_sql(2, 'c1')},
cqf AS (SELECT cell, {_QUANTIZE.format(v='centroid')} AS qc FROM c2),
af AS (SELECT vec_id, cell FROM (
  SELECT q.vec_id, c.cell,
         row_number() OVER (PARTITION BY q.vec_id
                            ORDER BY {_QL2.format(a='q.qv', b='c.qc')},
                                     c.cell) AS rn
  FROM e q, cqf c) WHERE rn = 1),
{_l2_probe_sql(nprobe)},
e0 AS (SELECT vec_id, v FROM e),
{_pq_sub_sql(0, 1, 32, 4, 2)},
{_pq_sub_sql(1, 33, 64, 4, 2)}"""


_IVFPQ_CTES = _ivfpq_ctes(2)

_IVFPQ_SELECT = """
SELECT e.vec_id, CAST(qd0.d + qd1.d AS BIGINT) AS adc_dist
FROM e
JOIN af ON af.vec_id = e.vec_id
JOIN code0 ON code0.vec_id = e.vec_id
JOIN code1 ON code1.vec_id = e.vec_id
JOIN qd0 ON qd0.cell = code0.cell
JOIN qd1 ON qd1.cell = code1.cell
WHERE af.cell IN (SELECT cell FROM probe)
ORDER BY adc_dist ASC, e.vec_id ASC LIMIT {limit}"""

ORACLES["ivfpq_topk"] = _IVFPQ_CTES + _IVFPQ_SELECT.format(limit=10)

# Batch ANN (pq.ivfpq_multi_topk): three probes (vec_id 0, 1, 2 as
# dense qids) through ONE scan — per-qid probe ranking (the l2
# assignment-metric rule, the r12 production default; row_number <= 2
# per qid), per-(qid, cell) ADC tables, per-qid top-10.  Reuses the
# coarse chain + the query=False subspace chains (codes without the
# single-query qs/qd CTEs).
ORACLES["ivfpq_multi_topk"] = f"""
WITH e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v,
                  {_QUANTIZE.format(v='list_transform(embedding, x -> x::DOUBLE)')} AS qv
           FROM embeddings),
seeds AS (SELECT vec_id, v FROM e
          ORDER BY md5(vec_id::VARCHAR), vec_id LIMIT 10),
c0 AS (SELECT row_number() OVER (ORDER BY md5(vec_id::VARCHAR), vec_id) - 1
         AS cell, v AS centroid FROM seeds),
{_kmeans_iter_sql(1, 'c0')},
{_kmeans_iter_sql(2, 'c1')},
cqf AS (SELECT cell, {_QUANTIZE.format(v='centroid')} AS qc FROM c2),
af AS (SELECT vec_id, cell FROM (
  SELECT q.vec_id, c.cell,
         row_number() OVER (PARTITION BY q.vec_id
                            ORDER BY {_QL2.format(a='q.qv', b='c.qc')},
                                     c.cell) AS rn
  FROM e q, cqf c) WHERE rn = 1),
qm AS (SELECT vec_id AS qid, v AS qv, qv AS qvq FROM e
       WHERE vec_id IN (0, 1, 2)),
probe AS (SELECT qid, cell FROM (
  SELECT q.qid, c.cell,
         row_number() OVER (PARTITION BY q.qid
                            ORDER BY {_QL2.format(a='q.qvq', b='c.qc')} ASC,
                                     c.cell ASC) AS rn
  FROM cqf c, qm q) WHERE rn <= 2),
e0 AS (SELECT vec_id, v FROM e),
{_pq_sub_sql(0, 1, 32, 4, 2, query=False)},
{_pq_sub_sql(1, 33, 64, 4, 2, query=False)},
qs0m AS (SELECT qid, {_QUANTIZE.format(v='qv[1:32]')} AS qv FROM qm),
qd0m AS (SELECT q.qid, c.cell, {_QL2_N.format(n=32, a='q.qv', b='c.qc')} AS d
  FROM cqf0 c, qs0m q),
qs1m AS (SELECT qid, {_QUANTIZE.format(v='qv[33:64]')} AS qv FROM qm),
qd1m AS (SELECT q.qid, c.cell, {_QL2_N.format(n=32, a='q.qv', b='c.qc')} AS d
  FROM cqf1 c, qs1m q)
SELECT qid, vec_id, adc_dist FROM (
  SELECT p.qid, e0.vec_id,
         CAST(qd0m.d + qd1m.d AS BIGINT) AS adc_dist,
         row_number() OVER (PARTITION BY p.qid
                            ORDER BY CAST(qd0m.d + qd1m.d AS BIGINT) ASC,
                                     e0.vec_id ASC) AS rk
  FROM e0
  JOIN af ON af.vec_id = e0.vec_id
  JOIN probe p ON p.cell = af.cell
  JOIN code0 ON code0.vec_id = e0.vec_id
  JOIN code1 ON code1.vec_id = e0.vec_id
  JOIN qd0m ON qd0m.cell = code0.cell AND qd0m.qid = p.qid
  JOIN qd1m ON qd1m.cell = code1.cell AND qd1m.qid = p.qid
) WHERE rk <= 10
"""

# The nprobe=None production-sizing path (recommended_nprobe —
# ceil(sqrt(num_cells))): the engine counts the codebook's 10 cells at
# query time and probes 4; the twin pins the same 4 statically.  The
# rest of the chain is ivfpq_topk's verbatim.
ORACLES["ivfpq_topk_sized"] = _ivfpq_ctes(4) + _IVFPQ_SELECT.format(limit=10)

# Batch refine (pq.ivfpq_multi_refine_topk): the multi-topk chain's
# inner ranking widened to rk <= 40 candidates per qid (rf=4 — the
# production sizing resolves to base at these occupancies), then ONE
# exact round6-cosine re-rank of all (qid, vec_id) pairs.  Assembled
# from the ivfpq_multi_topk twin by string surgery so the two chains
# can never drift apart.
_MM_HEAD, _MM_TAIL = ORACLES["ivfpq_multi_topk"].rsplit(
    "SELECT qid, vec_id, adc_dist FROM (", 1
)
_MM_INNER = _MM_TAIL.rsplit(") WHERE rk <= 10", 1)[0]
ORACLES["ivfpq_multi_refine_topk"] = (
    _MM_HEAD.rstrip().rstrip(",")
    + f""",
cand AS (SELECT qid, vec_id FROM ({_MM_INNER}) WHERE rk <= 40)
SELECT qid, vec_id, cos_sim FROM (
  SELECT c.qid, e.vec_id,
         {_R6.format(x=_cos('e.v', 'q.qv'))} AS cos_sim,
         row_number() OVER (PARTITION BY c.qid
           ORDER BY {_R6.format(x=_cos('e.v', 'q.qv'))} DESC,
                    e.vec_id ASC) AS rk2
  FROM e JOIN cand c ON c.vec_id = e.vec_id JOIN qm q ON q.qid = c.qid
) WHERE rk2 <= 10"""
)

# Persisted-index roundtrip: write codebooks + cell-partitioned index
# to parquet, read back, search — a STORAGE representation of the same
# relation (parquet roundtrips doubles/longs exactly), so the twin that
# recomputes the index relationally is shared verbatim.
ORACLES["ivfpq_fitted_roundtrip"] = ORACLES["ivfpq_topk"]

# Wave-incremental append: codebooks FIT ON THE BASE SLICE only
# (vec_id % 10 < 7), codes assigned to base + wave alike — the
# append-with-frozen-codebooks ≡ full-re-index-on-union identity made
# relational.  Same probe/scan/select as ivfpq_topk.
_APPEND_FIT = "vec_id % 10 < 7"
ORACLES["ivfpq_index_append"] = f"""
WITH e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v,
                  {_QUANTIZE.format(v='list_transform(embedding, x -> x::DOUBLE)')} AS qv
           FROM embeddings),
eb AS (SELECT * FROM e WHERE {_APPEND_FIT}),
seeds AS (SELECT vec_id, v FROM eb
          ORDER BY md5(vec_id::VARCHAR), vec_id LIMIT 10),
c0 AS (SELECT row_number() OVER (ORDER BY md5(vec_id::VARCHAR), vec_id) - 1
         AS cell, v AS centroid FROM seeds),
{_kmeans_iter_sql(1, 'c0', src='eb')},
{_kmeans_iter_sql(2, 'c1', src='eb')},
cqf AS (SELECT cell, {_QUANTIZE.format(v='centroid')} AS qc FROM c2),
af AS (SELECT vec_id, cell FROM (
  SELECT q.vec_id, c.cell,
         row_number() OVER (PARTITION BY q.vec_id
                            ORDER BY {_QL2.format(a='q.qv', b='c.qc')},
                                     c.cell) AS rn
  FROM e q, cqf c) WHERE rn = 1),
qq AS (SELECT v AS qv, qv AS qvq FROM e WHERE vec_id = 0),
probe AS (
  SELECT cell FROM (
    SELECT c.cell, {_QL2.format(a='q.qvq', b='c.qc')} AS pd
    FROM cqf c, qq q)
  ORDER BY pd ASC, cell ASC LIMIT 2),
e0 AS (SELECT vec_id, v FROM e),
{_pq_sub_sql(0, 1, 32, 4, 2, fit_where=_APPEND_FIT)},
{_pq_sub_sql(1, 33, 64, 4, 2, fit_where=_APPEND_FIT)}
{_IVFPQ_SELECT.format(limit=10)}"""

# FAISS IndexRefineFlat: the same candidate chain widened to
# k·refine_factor, then an EXACT-cosine re-rank of just those ids
# (ann_cosine_topk's formula and output convention).
ORACLES["ivfpq_refine_topk"] = (
    _IVFPQ_CTES
    + f""",
cand AS ({_IVFPQ_SELECT.format(limit=40)})
SELECT e.vec_id, {_R6.format(x=_cos('e.v', 'qq.qv'))} AS cos_sim
FROM e JOIN cand ON cand.vec_id = e.vec_id, qq
ORDER BY cos_sim DESC, e.vec_id ASC LIMIT 10"""
)

# The refine_factor=None production-sizing path
# (similarity.recommended_refine_factor): rf computed RELATIONALLY —
# base 4 up to 16 rows/cell, then 4·ceil(sqrt(occupancy/16)), capped
# 256 — and applied as a row_number cut (not a static LIMIT), so ONE
# twin strict-compares at every sf (sf0.001: occ 20 → rf 8 → 80
# candidates; sf0.01: occ 200 → rf 16 → 160).  Occupancy divides by
# the SURVIVING cell count (COUNT(*) FROM c2), mirroring
# codebook_num_cells.  Chain otherwise ivfpq_refine_topk's.
ORACLES["ivfpq_refine_topk_sized"] = (
    _IVFPQ_CTES
    + f""",
rfq AS (SELECT CASE WHEN (e_n.n / c_n.k) > 16.0
                    THEN GREATEST(4, LEAST(256,
                      4 * CAST(ceil(sqrt((e_n.n / c_n.k) / 16.0)) AS BIGINT)))
                    ELSE 4 END AS rf
        FROM (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM e) e_n,
             (SELECT CAST(COUNT(*) AS DOUBLE) AS k FROM c2) c_n),
cand AS (
  SELECT vec_id FROM (
    SELECT e.vec_id,
           row_number() OVER (ORDER BY CAST(qd0.d + qd1.d AS BIGINT) ASC,
                              e.vec_id ASC) AS rn
    FROM e
    JOIN af ON af.vec_id = e.vec_id
    JOIN code0 ON code0.vec_id = e.vec_id
    JOIN code1 ON code1.vec_id = e.vec_id
    JOIN qd0 ON qd0.cell = code0.cell
    JOIN qd1 ON qd1.cell = code1.cell
    WHERE af.cell IN (SELECT cell FROM probe)), rfq
  WHERE rn <= 10 * rfq.rf)
SELECT e.vec_id, {_R6.format(x=_cos('e.v', 'qq.qv'))} AS cos_sim
FROM e JOIN cand ON cand.vec_id = e.vec_id, qq
ORDER BY cos_sim DESC, e.vec_id ASC LIMIT 10"""
)

# Residual IVF+PQ: the FAISS IVFPQ recipe — PQ codebook fit on the
# coarse RESIDUALS (e0 below is v - centroid[assigned cell]), and the
# query's ADC table recomputed per probed cell from the per-cell query
# residual (qres/qs{j}r/qd{j}r — _pq_sub_sql's query=False mode).
ORACLES["ivfpq_residual_topk"] = f"""
WITH e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v,
                  {_QUANTIZE.format(v='list_transform(embedding, x -> x::DOUBLE)')} AS qv
           FROM embeddings),
seeds AS (SELECT vec_id, v FROM e
          ORDER BY md5(vec_id::VARCHAR), vec_id LIMIT 10),
c0 AS (SELECT row_number() OVER (ORDER BY md5(vec_id::VARCHAR), vec_id) - 1
         AS cell, v AS centroid FROM seeds),
{_kmeans_iter_sql(1, 'c0')},
{_kmeans_iter_sql(2, 'c1')},
cqf AS (SELECT cell, {_QUANTIZE.format(v='centroid')} AS qc FROM c2),
af AS (SELECT vec_id, cell FROM (
  SELECT q.vec_id, c.cell,
         row_number() OVER (PARTITION BY q.vec_id
                            ORDER BY {_QL2.format(a='q.qv', b='c.qc')},
                                     c.cell) AS rn
  FROM e q, cqf c) WHERE rn = 1),
qq AS (SELECT v AS qv, qv AS qvq FROM e WHERE vec_id = 0),
probe AS (
  SELECT cell FROM (
    SELECT c.cell, {_QL2.format(a='q.qvq', b='c.qc')} AS pd
    FROM cqf c, qq q)
  ORDER BY pd ASC, cell ASC LIMIT 2),
e0 AS (SELECT e.vec_id,
         list_transform(generate_series(1, 64), i -> e.v[i] - c.centroid[i]) AS v
       FROM e JOIN af ON af.vec_id = e.vec_id JOIN c2 c ON c.cell = af.cell),
{_pq_sub_sql(0, 1, 32, 4, 2, query=False)},
{_pq_sub_sql(1, 33, 64, 4, 2, query=False)},
qres AS (SELECT p.cell AS pcell,
           list_transform(generate_series(1, 64), i -> q.qv[i] - c.centroid[i]) AS v
         FROM probe p JOIN c2 c ON c.cell = p.cell, qq q),
qs0r AS (SELECT pcell, {_QUANTIZE.format(v='v[1:32]')} AS qv FROM qres),
qd0r AS (SELECT q.pcell, c.cell, {_QL2_N.format(n=32, a='q.qv', b='c.qc')} AS d
  FROM cqf0 c, qs0r q),
qs1r AS (SELECT pcell, {_QUANTIZE.format(v='v[33:64]')} AS qv FROM qres),
qd1r AS (SELECT q.pcell, c.cell, {_QL2_N.format(n=32, a='q.qv', b='c.qc')} AS d
  FROM cqf1 c, qs1r q)
SELECT e.vec_id, CAST(qd0r.d + qd1r.d AS BIGINT) AS adc_dist
FROM e
JOIN af ON af.vec_id = e.vec_id
JOIN code0 ON code0.vec_id = e.vec_id
JOIN code1 ON code1.vec_id = e.vec_id
JOIN qd0r ON qd0r.cell = code0.cell AND qd0r.pcell = af.cell
JOIN qd1r ON qd1r.cell = code1.cell AND qd1r.pcell = af.cell
WHERE af.cell IN (SELECT cell FROM probe)
ORDER BY adc_dist ASC, e.vec_id ASC LIMIT 10
"""

# Batch × residual (pq.ivfpq_multi_topk residual=True): per-qid l2
# probe, residual codes, and query tables keyed by (qid, pcell) — the
# query's residual differs per probed cell AND per query.
ORACLES["ivfpq_multi_topk_residual"] = f"""
WITH e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v,
                  {_QUANTIZE.format(v='list_transform(embedding, x -> x::DOUBLE)')} AS qv
           FROM embeddings),
seeds AS (SELECT vec_id, v FROM e
          ORDER BY md5(vec_id::VARCHAR), vec_id LIMIT 10),
c0 AS (SELECT row_number() OVER (ORDER BY md5(vec_id::VARCHAR), vec_id) - 1
         AS cell, v AS centroid FROM seeds),
{_kmeans_iter_sql(1, 'c0')},
{_kmeans_iter_sql(2, 'c1')},
cqf AS (SELECT cell, {_QUANTIZE.format(v='centroid')} AS qc FROM c2),
af AS (SELECT vec_id, cell FROM (
  SELECT q.vec_id, c.cell,
         row_number() OVER (PARTITION BY q.vec_id
                            ORDER BY {_QL2.format(a='q.qv', b='c.qc')},
                                     c.cell) AS rn
  FROM e q, cqf c) WHERE rn = 1),
qm AS (SELECT vec_id AS qid, v AS qv, qv AS qvq FROM e
       WHERE vec_id IN (0, 1, 2)),
probe AS (SELECT qid, cell FROM (
  SELECT q.qid, c.cell,
         row_number() OVER (PARTITION BY q.qid
                            ORDER BY {_QL2.format(a='q.qvq', b='c.qc')} ASC,
                                     c.cell ASC) AS rn
  FROM cqf c, qm q) WHERE rn <= 2),
e0 AS (SELECT e.vec_id,
         list_transform(generate_series(1, 64), i -> e.v[i] - c.centroid[i]) AS v
       FROM e JOIN af ON af.vec_id = e.vec_id JOIN c2 c ON c.cell = af.cell),
{_pq_sub_sql(0, 1, 32, 4, 2, query=False)},
{_pq_sub_sql(1, 33, 64, 4, 2, query=False)},
qresm AS (SELECT q.qid, p.cell AS pcell,
    list_transform(generate_series(1, 64), i -> q.qv[i] - c.centroid[i]) AS v
  FROM probe p JOIN c2 c ON c.cell = p.cell JOIN qm q ON q.qid = p.qid),
qs0rm AS (SELECT qid, pcell, {_QUANTIZE.format(v='v[1:32]')} AS qv FROM qresm),
qd0rm AS (SELECT q.qid, q.pcell, c.cell,
    {_QL2_N.format(n=32, a='q.qv', b='c.qc')} AS d
  FROM cqf0 c, qs0rm q),
qs1rm AS (SELECT qid, pcell, {_QUANTIZE.format(v='v[33:64]')} AS qv FROM qresm),
qd1rm AS (SELECT q.qid, q.pcell, c.cell,
    {_QL2_N.format(n=32, a='q.qv', b='c.qc')} AS d
  FROM cqf1 c, qs1rm q)
SELECT qid, vec_id, adc_dist FROM (
  SELECT p.qid, e0.vec_id,
         CAST(d0.d + d1.d AS BIGINT) AS adc_dist,
         row_number() OVER (PARTITION BY p.qid
           ORDER BY CAST(d0.d + d1.d AS BIGINT) ASC, e0.vec_id ASC) AS rk
  FROM e0
  JOIN af ON af.vec_id = e0.vec_id
  JOIN probe p ON p.cell = af.cell
  JOIN code0 ON code0.vec_id = e0.vec_id
  JOIN code1 ON code1.vec_id = e0.vec_id
  JOIN qd0rm d0 ON d0.cell = code0.cell AND d0.pcell = af.cell
               AND d0.qid = p.qid
  JOIN qd1rm d1 ON d1.cell = code1.cell AND d1.pcell = af.cell
               AND d1.qid = p.qid
) WHERE rk <= 10
"""

# Occupancy drift (operators/maintain.py): base-slice coarse fit, then
# the re-train meter between the base index's occupancy and the
# post-append union's — integer counts, integer-derived share ratios
# (IEEE-identical division order), round6 growth, boolean retrain.
ORACLES["ann_occupancy_drift"] = f"""
WITH e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v,
                  {_QUANTIZE.format(v='list_transform(embedding, x -> x::DOUBLE)')} AS qv
           FROM embeddings),
eb AS (SELECT * FROM e WHERE vec_id % 10 < 7),
seeds AS (SELECT vec_id, v FROM eb
          ORDER BY md5(vec_id::VARCHAR), vec_id LIMIT 10),
c0 AS (SELECT row_number() OVER (ORDER BY md5(vec_id::VARCHAR), vec_id) - 1
         AS cell, v AS centroid FROM seeds),
{_kmeans_iter_sql(1, 'c0', src='eb')},
{_kmeans_iter_sql(2, 'c1', src='eb')},
cqf AS (SELECT cell, {_QUANTIZE.format(v='centroid')} AS qc FROM c2),
ab AS (SELECT cell, count(*) AS base_n FROM (
  SELECT q.vec_id, c.cell,
         row_number() OVER (PARTITION BY q.vec_id
                            ORDER BY {_QL2.format(a='q.qv', b='c.qc')},
                                     c.cell) AS rn
  FROM eb q, cqf c) WHERE rn = 1 GROUP BY cell),
aw AS (SELECT cell, count(*) AS new_n FROM (
  SELECT q.vec_id, c.cell,
         row_number() OVER (PARTITION BY q.vec_id
                            ORDER BY {_QL2.format(a='q.qv', b='c.qc')},
                                     c.cell) AS rn
  FROM e q, cqf c) WHERE rn = 1 GROUP BY cell),
tb AS (SELECT SUM(base_n) AS tb FROM ab),
tw AS (SELECT SUM(new_n) AS tw FROM aw)
SELECT CAST(COALESCE(ab.cell, aw.cell) AS BIGINT) AS cell,
  COALESCE(ab.base_n, 0) AS base_n,
  COALESCE(aw.new_n, 0) AS new_n,
  CASE WHEN COALESCE(ab.base_n, 0) > 0 THEN
    floor(((COALESCE(aw.new_n, 0) / tw.tw) / (ab.base_n / tb.tb))*1e6 + 0.5)/1e6
  END AS growth,
  ((COALESCE(ab.base_n, 0) = 0 AND COALESCE(aw.new_n, 0) > 0)
   OR (COALESCE(ab.base_n, 0) > 0
       AND ((COALESCE(aw.new_n, 0) / tw.tw) / (ab.base_n / tb.tb)) > 1.02))
  AS retrain
FROM ab FULL OUTER JOIN aw ON ab.cell = aw.cell, tb, tw
"""


def _pq_percell_sql(
    j: int,
    lo: int,
    hi: int,
    k: int,
    iters: int,
    residual: bool = False,
    multi: bool = False,
    prefix: str = "",
    src: str = "e0",
) -> str:
    """Per-cell PQ Lloyd CTE chain for subspace ``j`` over the FLAGGED
    cells' rows (the refit twin — maintain.pq_refit_cells run
    relationally): seeds are each cell's first k rows in
    (md5(id), id) order (PARTITION BY cell row_number), assignment is
    quantized-argmin with smallest-code ties WITHIN the row's cell,
    means are exact-decimal per (cell, code) — _local_lloyd's rules
    with a cell dimension.  Emits pcode{j} (per-cell code assignment
    for flagged rows) and pqd{j} (per-(cell, code) query ADC table
    from qs{j}, the _pq_sub_sql query subvector).  _local_lloyd's
    float64 means vs the decimal(28,12) here agree after the 2^-20
    centroid quantization (the ann_ivf_hier_assign precedent).

    ``residual=True`` is the true-LOPQ twin
    (pq_refit_cells(residual=True)): e0 is then the RESIDUAL relation,
    so the per-cell Lloyd fits residual slices unchanged, and the only
    structural difference is the query table — pqd{j} joins the
    per-cell query RESIDUAL subvectors (qs{j}r, keyed by pcell) to
    that same cell's book instead of sharing one raw query vector.
    ``multi`` without ``residual`` is the batch-raw variant: one
    per-qid raw query table (qs{j}m) crossed with every refit cell's
    book.  ``prefix``/``src`` namespace the generated CTEs and the
    encode-source frame exactly like :func:`_pq_sub_sql` (the shared
    ``af``/``flagged`` head CTEs keep their fixed names)."""
    p = prefix
    n = hi - lo + 1
    d = _QL2_N.format(n=n, a="q.qv", b="c.qc")
    parts = [
        f"""{p}fr{j} AS (SELECT f.cell, e0.vec_id, e0.v[{lo}:{hi}] AS v,
         {_QUANTIZE.format(v=f'e0.v[{lo}:{hi}]')} AS qv
  FROM {src} e0 JOIN af ON af.vec_id = e0.vec_id
  JOIN flagged f ON f.cell = af.cell),
{p}pse{j} AS (SELECT cell, vec_id, v,
  row_number() OVER (PARTITION BY cell
                     ORDER BY md5(vec_id::VARCHAR), vec_id) AS rn
  FROM {p}fr{j}),
{p}pc{j}x0 AS (SELECT cell, rn - 1 AS code, v AS centroid
  FROM {p}pse{j} WHERE rn <= {k})"""
    ]
    for i in range(1, iters + 1):
        parts.append(
            f"""{p}pcq{j}x{i} AS (SELECT cell, code,
    {_QUANTIZE.format(v='centroid')} AS qc FROM {p}pc{j}x{i - 1}),
{p}pa{j}x{i} AS (SELECT cell, vec_id, v, code FROM (
  SELECT q.cell, q.vec_id, q.v, c.code,
         row_number() OVER (PARTITION BY q.cell, q.vec_id
                            ORDER BY {d}, c.code) AS rn
  FROM {p}fr{j} q JOIN {p}pcq{j}x{i} c ON c.cell = q.cell) WHERE rn = 1),
{p}pd{j}x{i} AS (SELECT cell, code, i,
    CAST(SUM(CAST(v[i] AS DECIMAL(28,12))) AS DOUBLE)/COUNT(*) AS cv
  FROM {p}pa{j}x{i}, (SELECT unnest(generate_series(1, {n})) AS i)
  GROUP BY cell, code, i),
{p}pc{j}x{i} AS (SELECT cell, code, list(cv ORDER BY i) AS centroid
  FROM {p}pd{j}x{i} GROUP BY cell, code)"""
        )
    if residual and multi:
        # batch true-LOPQ: the per-cell query table differs per qid AND
        # per cell (qs{j}rm = per-(qid, probed-cell) query residual)
        qd = f"""{p}pqd{j} AS (SELECT q.qid, c.cell, c.code,
    {_QL2_N.format(n=n, a='q.qv', b='c.qc')} AS d
  FROM {p}pcqf{j} c JOIN {p}qs{j}rm q ON q.pcell = c.cell)"""
    elif residual:
        qd = f"""{p}pqd{j} AS (SELECT c.cell, c.code,
    {_QL2_N.format(n=n, a='q.qv', b='c.qc')} AS d
  FROM {p}pcqf{j} c JOIN {p}qs{j}r q ON q.pcell = c.cell)"""
    elif multi:
        qd = f"""{p}pqd{j} AS (SELECT q.qid, c.cell, c.code,
    {_QL2_N.format(n=n, a='q.qv', b='c.qc')} AS d
  FROM {p}pcqf{j} c, {p}qs{j}m q)"""
    else:
        qd = f"""{p}pqd{j} AS (SELECT c.cell, c.code,
    {_QL2_N.format(n=n, a='q.qv', b='c.qc')} AS d
  FROM {p}pcqf{j} c, {p}qs{j} q)"""
    parts.append(
        f"""{p}pcqf{j} AS (SELECT cell, code,
    {_QUANTIZE.format(v='centroid')} AS qc FROM {p}pc{j}x{iters}),
{p}pcode{j} AS (SELECT cell, vec_id, code FROM (
  SELECT q.cell, q.vec_id, c.code,
         row_number() OVER (PARTITION BY q.cell, q.vec_id
                            ORDER BY {d}, c.code) AS rn
  FROM {p}fr{j} q JOIN {p}pcqf{j} c ON c.cell = q.cell) WHERE rn = 1),
{qd}"""
    )
    return ",\n".join(parts)


# The closed maintenance loop (maintain.pq_refit_cells /
# pq_reencode_cells / rewrite_index_cells + pq.ivfpq_topk_versioned)
# recomputed relationally: frozen books fit on the base slice, drift
# flags from the occupancy relation (raw-ratio > 1.02, the
# ann_occupancy_drift math), per-cell Lloyd refits for flagged cells,
# and a search whose probed rows score against the book that MINTED
# their codes — flagged cells' rows via pcode{j}/pqd{j} (version 1),
# the rest via code{j}/qd{j} (version 0, base-slice global fit).
# nprobe=4 so the probe straddles both versions.  The CTE body is
# shared with the distortion-ledger twin below.
_REFIT_CTES = f"""
WITH e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v,
                  {_QUANTIZE.format(v='list_transform(embedding, x -> x::DOUBLE)')} AS qv
           FROM embeddings),
eb AS (SELECT * FROM e WHERE {_APPEND_FIT}),
seeds AS (SELECT vec_id, v FROM eb
          ORDER BY md5(vec_id::VARCHAR), vec_id LIMIT 10),
c0 AS (SELECT row_number() OVER (ORDER BY md5(vec_id::VARCHAR), vec_id) - 1
         AS cell, v AS centroid FROM seeds),
{_kmeans_iter_sql(1, 'c0', src='eb')},
{_kmeans_iter_sql(2, 'c1', src='eb')},
cqf AS (SELECT cell, {_QUANTIZE.format(v='centroid')} AS qc FROM c2),
af AS (SELECT vec_id, cell FROM (
  SELECT q.vec_id, c.cell,
         row_number() OVER (PARTITION BY q.vec_id
                            ORDER BY {_QL2.format(a='q.qv', b='c.qc')},
                                     c.cell) AS rn
  FROM e q, cqf c) WHERE rn = 1),
ab AS (SELECT cell, count(*) AS base_n FROM (
  SELECT q.vec_id, c.cell,
         row_number() OVER (PARTITION BY q.vec_id
                            ORDER BY {_QL2.format(a='q.qv', b='c.qc')},
                                     c.cell) AS rn
  FROM eb q, cqf c) WHERE rn = 1 GROUP BY cell),
aw AS (SELECT cell, count(*) AS new_n FROM af GROUP BY cell),
tb AS (SELECT SUM(base_n) AS tb FROM ab),
tw AS (SELECT SUM(new_n) AS tw FROM aw),
flagged AS (SELECT CAST(COALESCE(ab.cell, aw.cell) AS BIGINT) AS cell
  FROM ab FULL OUTER JOIN aw ON ab.cell = aw.cell, tb, tw
  WHERE (COALESCE(ab.base_n, 0) = 0 AND COALESCE(aw.new_n, 0) > 0)
     OR (COALESCE(ab.base_n, 0) > 0
         AND ((COALESCE(aw.new_n, 0) / tw.tw) / (ab.base_n / tb.tb)) > 1.02)),
qq AS (SELECT v AS qv, qv AS qvq FROM e WHERE vec_id = 0),
probe AS (
  SELECT cell FROM (
    SELECT c.cell, {_QL2.format(a='q.qvq', b='c.qc')} AS pd
    FROM cqf c, qq q)
  ORDER BY pd ASC, cell ASC LIMIT 4),
e0 AS (SELECT vec_id, v FROM e),
{_pq_sub_sql(0, 1, 32, 4, 2, fit_where=_APPEND_FIT)},
{_pq_sub_sql(1, 33, 64, 4, 2, fit_where=_APPEND_FIT)},
{_pq_percell_sql(0, 1, 32, 4, 2)},
{_pq_percell_sql(1, 33, 64, 4, 2)}"""

ORACLES["ivfpq_refit_versioned"] = _REFIT_CTES + """
SELECT vec_id, adc_dist FROM (
  SELECT e0.vec_id, CAST(qd0.d + qd1.d AS BIGINT) AS adc_dist
  FROM e0
  JOIN af ON af.vec_id = e0.vec_id
  JOIN code0 ON code0.vec_id = e0.vec_id
  JOIN code1 ON code1.vec_id = e0.vec_id
  JOIN qd0 ON qd0.cell = code0.cell
  JOIN qd1 ON qd1.cell = code1.cell
  WHERE af.cell IN (SELECT cell FROM probe)
    AND af.cell NOT IN (SELECT cell FROM flagged)
  UNION ALL
  SELECT p0.vec_id, CAST(d0.d + d1.d AS BIGINT) AS adc_dist
  FROM pcode0 p0
  JOIN pcode1 p1 ON p1.vec_id = p0.vec_id
  JOIN pqd0 d0 ON d0.cell = p0.cell AND d0.code = p0.code
  JOIN pqd1 d1 ON d1.cell = p1.cell AND d1.code = p1.code
  WHERE p0.cell IN (SELECT cell FROM probe)
)
ORDER BY adc_dist ASC, vec_id ASC LIMIT 10
"""

# The distortion twin (maintain.pq_distortion_ledger over the mixed
# refit index): per-row exact int64 SSE between the row's quantized
# subvectors and its minting book's quantized centroids — flagged
# cells' rows reconstruct through pcode{j}/pcqf{j} (version 1), the
# rest through code{j}/cqf{j} (version 0) — summed per cell as exact
# integers and divided once (mse in vector units = /2^40, 6-dp
# rounded), mirroring the engine expression order exactly.
ORACLES["ivfpq_refit_distortion"] = _REFIT_CTES + f""",
gerr0 AS (SELECT c.vec_id, {_QL2_N.format(n=32, a='s.qv', b='b.qc')} AS e
  FROM code0 c JOIN es0 s ON s.vec_id = c.vec_id
  JOIN cqf0 b ON b.cell = c.cell),
gerr1 AS (SELECT c.vec_id, {_QL2_N.format(n=32, a='s.qv', b='b.qc')} AS e
  FROM code1 c JOIN es1 s ON s.vec_id = c.vec_id
  JOIN cqf1 b ON b.cell = c.cell),
perr0 AS (SELECT p.cell, p.vec_id, {_QL2_N.format(n=32, a='s.qv', b='b.qc')} AS e
  FROM pcode0 p JOIN es0 s ON s.vec_id = p.vec_id
  JOIN pcqf0 b ON b.cell = p.cell AND b.code = p.code),
perr1 AS (SELECT p.cell, p.vec_id, {_QL2_N.format(n=32, a='s.qv', b='b.qc')} AS e
  FROM pcode1 p JOIN es1 s ON s.vec_id = p.vec_id
  JOIN pcqf1 b ON b.cell = p.cell AND b.code = p.code),
all_err AS (
  SELECT af.cell AS cell, g0.e + g1.e AS err
  FROM gerr0 g0 JOIN gerr1 g1 ON g1.vec_id = g0.vec_id
  JOIN af ON af.vec_id = g0.vec_id
  WHERE af.cell NOT IN (SELECT cell FROM flagged)
  UNION ALL
  SELECT p0.cell AS cell, p0.e + p1.e AS err
  FROM perr0 p0 JOIN perr1 p1 ON p1.vec_id = p0.vec_id
                              AND p1.cell = p0.cell)
SELECT CAST(cell AS BIGINT) AS cell, COUNT(*) AS n,
  floor(((CAST(SUM(err) AS DOUBLE) / COUNT(*)) / 1099511627776.0)
        * 1e6 + 0.5) / 1e6 AS mse
FROM all_err GROUP BY cell
"""

# True LOPQ (Kalantidis & Avrithis 2014) — the refit loop composed
# with the RESIDUAL PQ family (r11 verdict item 1: the family the
# clustered recall matrix endorses).  Differences vs _REFIT_CTES:
# e0 is the residual relation (v − centroid[assigned cell]), the
# frozen global book is fit on BASE-slice residuals
# (_pq_sub_sql(fit_where=...) over residual e0), per-cell refit books
# fit flagged cells' residual slices (_pq_percell_sql(residual=True)),
# and EVERY probed cell's query table comes from the QUERY'S RESIDUAL
# against that cell's centroid — flagged cells through their per-cell
# book (pqd{j} ⋈ qs{j}r on pcell), the rest through the global book
# (qd{j}r, the ivfpq_residual_topk machinery at probe LIMIT 4).
_REFIT_RESIDUAL_CTES = f"""
WITH e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v,
                  {_QUANTIZE.format(v='list_transform(embedding, x -> x::DOUBLE)')} AS qv
           FROM embeddings),
eb AS (SELECT * FROM e WHERE {_APPEND_FIT}),
seeds AS (SELECT vec_id, v FROM eb
          ORDER BY md5(vec_id::VARCHAR), vec_id LIMIT 10),
c0 AS (SELECT row_number() OVER (ORDER BY md5(vec_id::VARCHAR), vec_id) - 1
         AS cell, v AS centroid FROM seeds),
{_kmeans_iter_sql(1, 'c0', src='eb')},
{_kmeans_iter_sql(2, 'c1', src='eb')},
cqf AS (SELECT cell, {_QUANTIZE.format(v='centroid')} AS qc FROM c2),
af AS (SELECT vec_id, cell FROM (
  SELECT q.vec_id, c.cell,
         row_number() OVER (PARTITION BY q.vec_id
                            ORDER BY {_QL2.format(a='q.qv', b='c.qc')},
                                     c.cell) AS rn
  FROM e q, cqf c) WHERE rn = 1),
ab AS (SELECT cell, count(*) AS base_n FROM (
  SELECT q.vec_id, c.cell,
         row_number() OVER (PARTITION BY q.vec_id
                            ORDER BY {_QL2.format(a='q.qv', b='c.qc')},
                                     c.cell) AS rn
  FROM eb q, cqf c) WHERE rn = 1 GROUP BY cell),
aw AS (SELECT cell, count(*) AS new_n FROM af GROUP BY cell),
tb AS (SELECT SUM(base_n) AS tb FROM ab),
tw AS (SELECT SUM(new_n) AS tw FROM aw),
flagged AS (SELECT CAST(COALESCE(ab.cell, aw.cell) AS BIGINT) AS cell
  FROM ab FULL OUTER JOIN aw ON ab.cell = aw.cell, tb, tw
  WHERE (COALESCE(ab.base_n, 0) = 0 AND COALESCE(aw.new_n, 0) > 0)
     OR (COALESCE(ab.base_n, 0) > 0
         AND ((COALESCE(aw.new_n, 0) / tw.tw) / (ab.base_n / tb.tb)) > 1.02)),
qq AS (SELECT v AS qv, qv AS qvq FROM e WHERE vec_id = 0),
probe AS (
  SELECT cell FROM (
    SELECT c.cell, {_QL2.format(a='q.qvq', b='c.qc')} AS pd
    FROM cqf c, qq q)
  ORDER BY pd ASC, cell ASC LIMIT 4),
e0 AS (SELECT e.vec_id,
         list_transform(generate_series(1, 64), i -> e.v[i] - c.centroid[i]) AS v
       FROM e JOIN af ON af.vec_id = e.vec_id JOIN c2 c ON c.cell = af.cell),
{_pq_sub_sql(0, 1, 32, 4, 2, query=False, fit_where=_APPEND_FIT)},
{_pq_sub_sql(1, 33, 64, 4, 2, query=False, fit_where=_APPEND_FIT)},
qres AS (SELECT p.cell AS pcell,
           list_transform(generate_series(1, 64), i -> q.qv[i] - c.centroid[i]) AS v
         FROM probe p JOIN c2 c ON c.cell = p.cell, qq q),
qs0r AS (SELECT pcell, {_QUANTIZE.format(v='v[1:32]')} AS qv FROM qres),
qd0r AS (SELECT q.pcell, c.cell, {_QL2_N.format(n=32, a='q.qv', b='c.qc')} AS d
  FROM cqf0 c, qs0r q),
qs1r AS (SELECT pcell, {_QUANTIZE.format(v='v[33:64]')} AS qv FROM qres),
qd1r AS (SELECT q.pcell, c.cell, {_QL2_N.format(n=32, a='q.qv', b='c.qc')} AS d
  FROM cqf1 c, qs1r q),
{_pq_percell_sql(0, 1, 32, 4, 2, residual=True)},
{_pq_percell_sql(1, 33, 64, 4, 2, residual=True)}"""

# The flagship composition at batch shape: the true-LOPQ maintained
# index (residual selective refit) answering THREE probes from one
# mixed-codes pass (pq.ivfpq_multi_topk_versioned residual=True).
# Per-qid l2 probe, per-(qid, probed-cell) query-residual tables for
# BOTH books (global qd{j}rm; per-cell pqd{j} via qs{j}rm).
_REFIT_RESIDUAL_MULTI_CTES = f"""
WITH e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v,
                  {_QUANTIZE.format(v='list_transform(embedding, x -> x::DOUBLE)')} AS qv
           FROM embeddings),
eb AS (SELECT * FROM e WHERE {_APPEND_FIT}),
seeds AS (SELECT vec_id, v FROM eb
          ORDER BY md5(vec_id::VARCHAR), vec_id LIMIT 10),
c0 AS (SELECT row_number() OVER (ORDER BY md5(vec_id::VARCHAR), vec_id) - 1
         AS cell, v AS centroid FROM seeds),
{_kmeans_iter_sql(1, 'c0', src='eb')},
{_kmeans_iter_sql(2, 'c1', src='eb')},
cqf AS (SELECT cell, {_QUANTIZE.format(v='centroid')} AS qc FROM c2),
af AS (SELECT vec_id, cell FROM (
  SELECT q.vec_id, c.cell,
         row_number() OVER (PARTITION BY q.vec_id
                            ORDER BY {_QL2.format(a='q.qv', b='c.qc')},
                                     c.cell) AS rn
  FROM e q, cqf c) WHERE rn = 1),
ab AS (SELECT cell, count(*) AS base_n FROM (
  SELECT q.vec_id, c.cell,
         row_number() OVER (PARTITION BY q.vec_id
                            ORDER BY {_QL2.format(a='q.qv', b='c.qc')},
                                     c.cell) AS rn
  FROM eb q, cqf c) WHERE rn = 1 GROUP BY cell),
aw AS (SELECT cell, count(*) AS new_n FROM af GROUP BY cell),
tb AS (SELECT SUM(base_n) AS tb FROM ab),
tw AS (SELECT SUM(new_n) AS tw FROM aw),
flagged AS (SELECT CAST(COALESCE(ab.cell, aw.cell) AS BIGINT) AS cell
  FROM ab FULL OUTER JOIN aw ON ab.cell = aw.cell, tb, tw
  WHERE (COALESCE(ab.base_n, 0) = 0 AND COALESCE(aw.new_n, 0) > 0)
     OR (COALESCE(ab.base_n, 0) > 0
         AND ((COALESCE(aw.new_n, 0) / tw.tw) / (ab.base_n / tb.tb)) > 1.02)),
qm AS (SELECT vec_id AS qid, v AS qv, qv AS qvq FROM e
       WHERE vec_id IN (0, 1, 2)),
probe AS (SELECT qid, cell FROM (
  SELECT q.qid, c.cell,
         row_number() OVER (PARTITION BY q.qid
                            ORDER BY {_QL2.format(a='q.qvq', b='c.qc')} ASC,
                                     c.cell ASC) AS rn
  FROM cqf c, qm q) WHERE rn <= 4),
e0 AS (SELECT e.vec_id,
         list_transform(generate_series(1, 64), i -> e.v[i] - c.centroid[i]) AS v
       FROM e JOIN af ON af.vec_id = e.vec_id JOIN c2 c ON c.cell = af.cell),
{_pq_sub_sql(0, 1, 32, 4, 2, query=False, fit_where=_APPEND_FIT)},
{_pq_sub_sql(1, 33, 64, 4, 2, query=False, fit_where=_APPEND_FIT)},
qresm AS (SELECT q.qid, p.cell AS pcell,
    list_transform(generate_series(1, 64), i -> q.qv[i] - c.centroid[i]) AS v
  FROM probe p JOIN c2 c ON c.cell = p.cell JOIN qm q ON q.qid = p.qid),
qs0rm AS (SELECT qid, pcell, {_QUANTIZE.format(v='v[1:32]')} AS qv FROM qresm),
qd0rm AS (SELECT q.qid, q.pcell, c.cell,
    {_QL2_N.format(n=32, a='q.qv', b='c.qc')} AS d
  FROM cqf0 c, qs0rm q),
qs1rm AS (SELECT qid, pcell, {_QUANTIZE.format(v='v[33:64]')} AS qv FROM qresm),
qd1rm AS (SELECT q.qid, q.pcell, c.cell,
    {_QL2_N.format(n=32, a='q.qv', b='c.qc')} AS d
  FROM cqf1 c, qs1rm q),
{_pq_percell_sql(0, 1, 32, 4, 2, residual=True, multi=True)},
{_pq_percell_sql(1, 33, 64, 4, 2, residual=True, multi=True)}"""

_REFIT_RESIDUAL_MULTI_UNION = """
    SELECT p.qid, e0.vec_id, CAST(g0.d + g1.d AS BIGINT) AS adc_dist
    FROM e0
    JOIN af ON af.vec_id = e0.vec_id
    JOIN probe p ON p.cell = af.cell
    JOIN code0 ON code0.vec_id = e0.vec_id
    JOIN code1 ON code1.vec_id = e0.vec_id
    JOIN qd0rm g0 ON g0.cell = code0.cell AND g0.pcell = af.cell
                 AND g0.qid = p.qid
    JOIN qd1rm g1 ON g1.cell = code1.cell AND g1.pcell = af.cell
                 AND g1.qid = p.qid
    WHERE af.cell NOT IN (SELECT cell FROM flagged)
    UNION ALL
    SELECT p.qid, p0.vec_id, CAST(d0.d + d1.d AS BIGINT) AS adc_dist
    FROM pcode0 p0
    JOIN pcode1 p1 ON p1.vec_id = p0.vec_id
    JOIN probe p ON p.cell = p0.cell
    JOIN pqd0 d0 ON d0.cell = p0.cell AND d0.code = p0.code
                AND d0.qid = p.qid
    JOIN pqd1 d1 ON d1.cell = p1.cell AND d1.code = p1.code
                AND d1.qid = p.qid"""

ORACLES["ivfpq_refit_residual_multi"] = _REFIT_RESIDUAL_MULTI_CTES + f"""
SELECT qid, vec_id, adc_dist FROM (
  SELECT qid, vec_id, adc_dist,
         row_number() OVER (PARTITION BY qid
           ORDER BY adc_dist ASC, vec_id ASC) AS rk
  FROM ({_REFIT_RESIDUAL_MULTI_UNION}
  )
) WHERE rk <= 10
"""

# Batch refine over the maintained index
# (pq.ivfpq_multi_refine_topk(overrides=...)): per-qid candidates from
# the SAME versioned batch union at rk <= 10·4 (refine_factor=4
# explicit), one exact round6-cosine re-rank per (qid, id) pair, one
# window top-10 per qid.
ORACLES["ivfpq_refit_refine_multi"] = _REFIT_RESIDUAL_MULTI_CTES + f""",
candm AS (SELECT qid, vec_id FROM (
  SELECT qid, vec_id,
         row_number() OVER (PARTITION BY qid
           ORDER BY adc_dist ASC, vec_id ASC) AS rk
  FROM ({_REFIT_RESIDUAL_MULTI_UNION}
  )
) WHERE rk <= 40)
SELECT qid, vec_id, cos_sim FROM (
  SELECT c.qid, e.vec_id, {_R6.format(x=_cos('e.v', 'q.qv'))} AS cos_sim,
         row_number() OVER (PARTITION BY c.qid
           ORDER BY {_R6.format(x=_cos('e.v', 'q.qv'))} DESC,
                    e.vec_id ASC) AS rk
  FROM candm c
  JOIN e ON e.vec_id = c.vec_id
  JOIN qm q ON q.qid = c.qid
) WHERE rk <= 10
"""

# The versioned (mixed-books) residual scan body — shared by the
# maintained-index search twin and the r14 refine-over-maintained twin
# (which widens the same ranking to k·rf candidates before an exact
# cosine re-rank).
_REFIT_RESIDUAL_UNION = """
  SELECT e0.vec_id, CAST(qd0r.d + qd1r.d AS BIGINT) AS adc_dist
  FROM e0
  JOIN af ON af.vec_id = e0.vec_id
  JOIN code0 ON code0.vec_id = e0.vec_id
  JOIN code1 ON code1.vec_id = e0.vec_id
  JOIN qd0r ON qd0r.cell = code0.cell AND qd0r.pcell = af.cell
  JOIN qd1r ON qd1r.cell = code1.cell AND qd1r.pcell = af.cell
  WHERE af.cell IN (SELECT cell FROM probe)
    AND af.cell NOT IN (SELECT cell FROM flagged)
  UNION ALL
  SELECT p0.vec_id, CAST(d0.d + d1.d AS BIGINT) AS adc_dist
  FROM pcode0 p0
  JOIN pcode1 p1 ON p1.vec_id = p0.vec_id
  JOIN pqd0 d0 ON d0.cell = p0.cell AND d0.code = p0.code
  JOIN pqd1 d1 ON d1.cell = p1.cell AND d1.code = p1.code
  WHERE p0.cell IN (SELECT cell FROM probe)"""

ORACLES["ivfpq_refit_residual"] = _REFIT_RESIDUAL_CTES + f"""
SELECT vec_id, adc_dist FROM ({_REFIT_RESIDUAL_UNION}
)
ORDER BY adc_dist ASC, vec_id ASC LIMIT 10
"""

# Refine over the MAINTAINED index (r13 verdict item 1 —
# pq.ivfpq_refine_topk_versioned): the SAME versioned union ranked to
# k·rf candidates with rf computed RELATIONALLY from COUNT(*) (the
# production recommended_refine_factor path at target_occupancy=16 —
# the ivfpq_refine_topk_sized precedent, so ONE twin strict-compares
# at every sf), then an exact round6-cosine re-rank of just those ids.
ORACLES["ivfpq_refit_refine"] = _REFIT_RESIDUAL_CTES + f""",
rfq AS (SELECT CASE WHEN (e_n.n / c_n.k) > 16.0
                    THEN GREATEST(4, LEAST(256,
                      4 * CAST(ceil(sqrt((e_n.n / c_n.k) / 16.0)) AS BIGINT)))
                    ELSE 4 END AS rf
        FROM (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM e) e_n,
             (SELECT CAST(COUNT(*) AS DOUBLE) AS k FROM c2) c_n),
cand AS (SELECT vec_id FROM (
  SELECT vec_id,
         row_number() OVER (ORDER BY adc_dist ASC, vec_id ASC) AS rn
  FROM ({_REFIT_RESIDUAL_UNION}
  )), rfq
  WHERE rn <= 10 * rfq.rf)
SELECT e.vec_id, {_R6.format(x=_cos('e.v', 'qq.qv'))} AS cos_sim
FROM e JOIN cand ON cand.vec_id = e.vec_id, qq
ORDER BY cos_sim DESC, e.vec_id ASC LIMIT 10
"""

# Scalar quantization (SQ8): per-dimension min/max bounds (exact aggs,
# no fold hazard), byte codes floor((x-lo)*255/(hi-lo)+0.5) clamped to
# [0,255] (constant dims code to 0), symmetric code-domain int64
# squared-L2 vs the query's own codes.  Same float64 IEEE expression
# order as operators/sq.py, BIGINT-cast sum (the r8 HUGEINT lesson).
ORACLES["sq8_topk"] = """
WITH e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v
           FROM embeddings),
b AS (SELECT i, min(v[i]) AS lo, max(v[i]) AS hi
      FROM e, (SELECT unnest(generate_series(1, 64)) AS i) GROUP BY i),
bl AS (SELECT list(lo ORDER BY i) AS lo, list(hi ORDER BY i) AS hi FROM b),
codes AS (SELECT vec_id,
  list_transform(generate_series(1, 64), i ->
    CASE WHEN bl.hi[i] = bl.lo[i] THEN 0
         ELSE GREATEST(0, LEAST(255,
           CAST(floor((e.v[i] - bl.lo[i]) * 255.0 / (bl.hi[i] - bl.lo[i]) + 0.5)
                AS BIGINT)))
    END) AS c
  FROM e, bl),
q AS (SELECT c AS qc FROM codes WHERE vec_id = 0)
SELECT codes.vec_id,
  CAST(list_sum(list_transform(generate_series(1, 64),
    i -> (codes.c[i] - q.qc[i]) * (codes.c[i] - q.qc[i]))) AS BIGINT) AS sq_dist
FROM codes, q
ORDER BY sq_dist ASC, codes.vec_id ASC LIMIT 10
"""

# IVF+SQ8: the shared coarse-kmeans/probe CTEs restrict the sq8
# symmetric scan to the top-nprobe cells' codes.
ORACLES["ivfsq_topk"] = f"""
WITH e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v,
                  {_QUANTIZE.format(v='list_transform(embedding, x -> x::DOUBLE)')} AS qv
           FROM embeddings),
seeds AS (SELECT vec_id, v FROM e
          ORDER BY md5(vec_id::VARCHAR), vec_id LIMIT 10),
c0 AS (SELECT row_number() OVER (ORDER BY md5(vec_id::VARCHAR), vec_id) - 1
         AS cell, v AS centroid FROM seeds),
{_kmeans_iter_sql(1, 'c0')},
{_kmeans_iter_sql(2, 'c1')},
cqf AS (SELECT cell, {_QUANTIZE.format(v='centroid')} AS qc FROM c2),
af AS (SELECT vec_id, cell FROM (
  SELECT q.vec_id, c.cell,
         row_number() OVER (PARTITION BY q.vec_id
                            ORDER BY {_QL2.format(a='q.qv', b='c.qc')},
                                     c.cell) AS rn
  FROM e q, cqf c) WHERE rn = 1),
qq AS (SELECT v AS qv, qv AS qvq FROM e WHERE vec_id = 0),
probe AS (
  SELECT cell FROM (
    SELECT c.cell, {_QL2.format(a='q.qvq', b='c.qc')} AS pd
    FROM cqf c, qq q)
  ORDER BY pd ASC, cell ASC LIMIT 2),
b AS (SELECT i, min(v[i]) AS lo, max(v[i]) AS hi
      FROM e, (SELECT unnest(generate_series(1, 64)) AS i) GROUP BY i),
bl AS (SELECT list(lo ORDER BY i) AS lo, list(hi ORDER BY i) AS hi FROM b),
codes AS (SELECT vec_id,
  list_transform(generate_series(1, 64), i ->
    CASE WHEN bl.hi[i] = bl.lo[i] THEN 0
         ELSE GREATEST(0, LEAST(255,
           CAST(floor((e.v[i] - bl.lo[i]) * 255.0 / (bl.hi[i] - bl.lo[i]) + 0.5)
                AS BIGINT)))
    END) AS c
  FROM e, bl),
qc AS (SELECT c AS qc FROM codes WHERE vec_id = 0)
SELECT codes.vec_id,
  CAST(list_sum(list_transform(generate_series(1, 64),
    i -> (codes.c[i] - qc.qc[i]) * (codes.c[i] - qc.qc[i]))) AS BIGINT) AS sq_dist
FROM codes
JOIN af ON af.vec_id = codes.vec_id, qc
WHERE af.cell IN (SELECT cell FROM probe)
ORDER BY sq_dist ASC, codes.vec_id ASC LIMIT 10
"""

# SQ8 persisted-index roundtrip: shares the retrain-in-query twin —
# parquet roundtrips the bounds/codes exactly.
# Two-stage SQ refine (sq.ivfsq_refine_topk, r14 — the composition PQ
# and BQ already had): the ivfsq_topk candidate chain widened to
# k*refine_factor = 40, then an exact round6-cosine re-rank.
_IVFSQ_SELECT_CAND = """,
cand AS (SELECT vec_id FROM (
  SELECT codes.vec_id,
    row_number() OVER (ORDER BY
      CAST(list_sum(list_transform(generate_series(1, 64),
        i -> (codes.c[i] - qc.qc[i]) * (codes.c[i] - qc.qc[i]))) AS BIGINT)
      ASC, codes.vec_id ASC) AS rn
  FROM codes
  JOIN af ON af.vec_id = codes.vec_id, qc
  WHERE af.cell IN (SELECT cell FROM probe)) WHERE rn <= 40)"""

ORACLES["ivfsq_refine_topk"] = (
    ORACLES["ivfsq_topk"].rsplit("SELECT codes.vec_id,", 1)[0].rstrip()
    .removesuffix(",")
    + _IVFSQ_SELECT_CAND
    + f"""
SELECT e.vec_id, {_R6.format(x=_cos('e.v', 'qq.qv'))} AS cos_sim
FROM e JOIN cand ON cand.vec_id = e.vec_id, qq
ORDER BY cos_sim DESC, e.vec_id ASC LIMIT 10
"""
)

ORACLES["ivfsq_fitted_roundtrip"] = ORACLES["ivfsq_topk"]

# Batch IVF+SQ8 (sq.ivfsq_multi_topk): three probes (vec_id 0, 1, 2 as
# dense qids) through ONE byte scan — per-qid l2 probe ranking (the
# L2-family production rule), per-qid query codes from the SAME codes
# relation (symmetric quantization: a corpus vector's query codes ARE
# its corpus codes), per-qid top-10.
ORACLES["ivfsq_multi_topk"] = f"""
WITH e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v,
                  {_QUANTIZE.format(v='list_transform(embedding, x -> x::DOUBLE)')} AS qv
           FROM embeddings),
seeds AS (SELECT vec_id, v FROM e
          ORDER BY md5(vec_id::VARCHAR), vec_id LIMIT 10),
c0 AS (SELECT row_number() OVER (ORDER BY md5(vec_id::VARCHAR), vec_id) - 1
         AS cell, v AS centroid FROM seeds),
{_kmeans_iter_sql(1, 'c0')},
{_kmeans_iter_sql(2, 'c1')},
cqf AS (SELECT cell, {_QUANTIZE.format(v='centroid')} AS qc FROM c2),
af AS (SELECT vec_id, cell FROM (
  SELECT q.vec_id, c.cell,
         row_number() OVER (PARTITION BY q.vec_id
                            ORDER BY {_QL2.format(a='q.qv', b='c.qc')},
                                     c.cell) AS rn
  FROM e q, cqf c) WHERE rn = 1),
qm AS (SELECT vec_id AS qid, qv AS qvq FROM e WHERE vec_id IN (0, 1, 2)),
probe AS (SELECT qid, cell FROM (
  SELECT q.qid, c.cell,
         row_number() OVER (PARTITION BY q.qid
                            ORDER BY {_QL2.format(a='q.qvq', b='c.qc')} ASC,
                                     c.cell ASC) AS rn
  FROM cqf c, qm q) WHERE rn <= 2),
b AS (SELECT i, min(v[i]) AS lo, max(v[i]) AS hi
      FROM e, (SELECT unnest(generate_series(1, 64)) AS i) GROUP BY i),
bl AS (SELECT list(lo ORDER BY i) AS lo, list(hi ORDER BY i) AS hi FROM b),
codes AS (SELECT vec_id,
  list_transform(generate_series(1, 64), i ->
    CASE WHEN bl.hi[i] = bl.lo[i] THEN 0
         ELSE GREATEST(0, LEAST(255,
           CAST(floor((e.v[i] - bl.lo[i]) * 255.0 / (bl.hi[i] - bl.lo[i]) + 0.5)
                AS BIGINT)))
    END) AS c
  FROM e, bl),
qcm AS (SELECT vec_id AS qid, c AS qc FROM codes WHERE vec_id IN (0, 1, 2))
SELECT qid, vec_id, sq_dist FROM (
  SELECT p.qid, codes.vec_id,
    CAST(list_sum(list_transform(generate_series(1, 64),
      i -> (codes.c[i] - qcm.qc[i]) * (codes.c[i] - qcm.qc[i])))
      AS BIGINT) AS sq_dist,
    row_number() OVER (PARTITION BY p.qid
      ORDER BY CAST(list_sum(list_transform(generate_series(1, 64),
        i -> (codes.c[i] - qcm.qc[i]) * (codes.c[i] - qcm.qc[i])))
        AS BIGINT) ASC, codes.vec_id ASC) AS rk
  FROM codes
  JOIN af ON af.vec_id = codes.vec_id
  JOIN probe p ON p.cell = af.cell
  JOIN qcm ON qcm.qid = p.qid
) WHERE rk <= 10
"""

# The SQ maintenance loop (maintain.sq_refit_cells / sq_reencode_cells
# / rewrite_index_cells + sq.ivfsq_topk_versioned) recomputed
# relationally: frozen global bounds fit on the base slice, drift
# flags from the occupancy relation (the _REFIT_CTES head verbatim),
# per-cell [lo, hi] bounds for flagged cells (one min/max agg — no
# Lloyd), flagged rows re-encoded against their cell's bounds, and a
# search ranked by the ASYMMETRIC reconstruction distance — each code
# decoded through the bounds that MINTED it (lo + c·span/255), floor-
# quantized to 2^-20 fixed point, exact int64 squares against the
# quantized query.  The reconstruction expression order here mirrors
# sq._asym_dist_expr token for token (same IEEE doubles in any
# engine).  nprobe=4 straddles flagged and unflagged cells.
def _sq_asym_term(lo: str, hi: str, c: str) -> str:
    recon = (
        f"CAST(floor(({lo} + {c} * ({hi} - {lo}) / 255.0) "
        "* 1048576.0 + 0.5) AS BIGINT)"
    )
    return f"(q.qvq[i] - {recon}) * (q.qvq[i] - {recon})"


_IVFSQ_REFIT_CTES = f"""
WITH e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v,
                  {_QUANTIZE.format(v='list_transform(embedding, x -> x::DOUBLE)')} AS qv
           FROM embeddings),
eb AS (SELECT * FROM e WHERE {_APPEND_FIT}),
seeds AS (SELECT vec_id, v FROM eb
          ORDER BY md5(vec_id::VARCHAR), vec_id LIMIT 10),
c0 AS (SELECT row_number() OVER (ORDER BY md5(vec_id::VARCHAR), vec_id) - 1
         AS cell, v AS centroid FROM seeds),
{_kmeans_iter_sql(1, 'c0', src='eb')},
{_kmeans_iter_sql(2, 'c1', src='eb')},
cqf AS (SELECT cell, {_QUANTIZE.format(v='centroid')} AS qc FROM c2),
af AS (SELECT vec_id, cell FROM (
  SELECT q.vec_id, c.cell,
         row_number() OVER (PARTITION BY q.vec_id
                            ORDER BY {_QL2.format(a='q.qv', b='c.qc')},
                                     c.cell) AS rn
  FROM e q, cqf c) WHERE rn = 1),
ab AS (SELECT cell, count(*) AS base_n FROM (
  SELECT q.vec_id, c.cell,
         row_number() OVER (PARTITION BY q.vec_id
                            ORDER BY {_QL2.format(a='q.qv', b='c.qc')},
                                     c.cell) AS rn
  FROM eb q, cqf c) WHERE rn = 1 GROUP BY cell),
aw AS (SELECT cell, count(*) AS new_n FROM af GROUP BY cell),
tb AS (SELECT SUM(base_n) AS tb FROM ab),
tw AS (SELECT SUM(new_n) AS tw FROM aw),
flagged AS (SELECT CAST(COALESCE(ab.cell, aw.cell) AS BIGINT) AS cell
  FROM ab FULL OUTER JOIN aw ON ab.cell = aw.cell, tb, tw
  WHERE (COALESCE(ab.base_n, 0) = 0 AND COALESCE(aw.new_n, 0) > 0)
     OR (COALESCE(ab.base_n, 0) > 0
         AND ((COALESCE(aw.new_n, 0) / tw.tw) / (ab.base_n / tb.tb)) > 1.02)),
qq AS (SELECT v AS qv, qv AS qvq FROM e WHERE vec_id = 0),
probe AS (
  SELECT cell FROM (
    SELECT c.cell, {_QL2.format(a='q.qvq', b='c.qc')} AS pd
    FROM cqf c, qq q)
  ORDER BY pd ASC, cell ASC LIMIT 4),
b AS (SELECT i, min(v[i]) AS lo, max(v[i]) AS hi
      FROM eb, (SELECT unnest(generate_series(1, 64)) AS i) GROUP BY i),
bl AS (SELECT list(lo ORDER BY i) AS lo, list(hi ORDER BY i) AS hi FROM b),
codes AS (SELECT vec_id,
  list_transform(generate_series(1, 64), i ->
    CASE WHEN bl.hi[i] = bl.lo[i] THEN 0
         ELSE GREATEST(0, LEAST(255,
           CAST(floor((e.v[i] - bl.lo[i]) * 255.0 / (bl.hi[i] - bl.lo[i]) + 0.5)
                AS BIGINT)))
    END) AS c
  FROM e, bl),
pb AS (SELECT af.cell, i, min(e.v[i]) AS lo, max(e.v[i]) AS hi
  FROM e JOIN af ON af.vec_id = e.vec_id
  JOIN flagged f ON f.cell = af.cell,
  (SELECT unnest(generate_series(1, 64)) AS i) GROUP BY af.cell, i),
pbl AS (SELECT cell, list(lo ORDER BY i) AS lo, list(hi ORDER BY i) AS hi
  FROM pb GROUP BY cell),
pcodes AS (SELECT e.vec_id, pbl.cell,
  list_transform(generate_series(1, 64), i ->
    CASE WHEN pbl.hi[i] = pbl.lo[i] THEN 0
         ELSE GREATEST(0, LEAST(255,
           CAST(floor((e.v[i] - pbl.lo[i]) * 255.0 / (pbl.hi[i] - pbl.lo[i]) + 0.5)
                AS BIGINT)))
    END) AS c
  FROM e JOIN af ON af.vec_id = e.vec_id
  JOIN pbl ON pbl.cell = af.cell)"""

# the mixed-bounds asymmetric ranking body (f-string: the per-term
# reconstruction SQL interpolates here) — shared by the versioned
# search twin and the r14 SQ refine-over-maintained twin
_IVFSQ_REFIT_UNION = f"""
  SELECT codes.vec_id,
    CAST(list_sum(list_transform(generate_series(1, 64), i ->
      {_sq_asym_term('bl.lo[i]', 'bl.hi[i]', 'codes.c[i]')}))
      AS BIGINT) AS sq_adist
  FROM codes JOIN af ON af.vec_id = codes.vec_id, bl, qq q
  WHERE af.cell IN (SELECT cell FROM probe)
    AND af.cell NOT IN (SELECT cell FROM flagged)
  UNION ALL
  SELECT p.vec_id,
    CAST(list_sum(list_transform(generate_series(1, 64), i ->
      {_sq_asym_term('pbl.lo[i]', 'pbl.hi[i]', 'p.c[i]')}))
      AS BIGINT) AS sq_adist
  FROM pcodes p JOIN pbl ON pbl.cell = p.cell, qq q
  WHERE p.cell IN (SELECT cell FROM probe)
"""

ORACLES["ivfsq_refit_versioned"] = _IVFSQ_REFIT_CTES + f"""
SELECT vec_id, sq_adist FROM ({_IVFSQ_REFIT_UNION}
)
ORDER BY sq_adist ASC, vec_id ASC LIMIT 10
"""

# Refine over the MAINTAINED SQ index (sq.ivfsq_refine_topk_versioned,
# r14): the same mixed-bounds asymmetric ranking cut at rk <= 40
# (k*rf, rf=4), then an exact round6-cosine re-rank of just those ids.
ORACLES["ivfsq_refit_refine"] = _IVFSQ_REFIT_CTES + f""",
cand AS (SELECT vec_id FROM (
  SELECT vec_id,
         row_number() OVER (ORDER BY sq_adist ASC, vec_id ASC) AS rn
  FROM ({_IVFSQ_REFIT_UNION}
  )) WHERE rn <= 40)
SELECT e.vec_id, {_R6.format(x=_cos('e.v', 'qq.qv'))} AS cos_sim
FROM e JOIN cand ON cand.vec_id = e.vec_id, qq
ORDER BY cos_sim DESC, e.vec_id ASC LIMIT 10
"""

# The SQ distortion twin (maintain.sq_distortion_ledger over the mixed
# refit index): per-row exact int64 SSE between the row's quantized
# vector and its floor-quantized reconstruction through the MINTING
# bounds — flagged cells via pbl/pcodes (version 1), the rest via
# bl/codes (version 0) — summed per cell (DuckDB list_sum/SUM are
# exact HUGEINT, mirroring the engine's DECIMAL(38,0) cell sums) and
# divided once (mse in vector units = /2^40, 6-dp rounded).
def _sq_own_term(lo: str, hi: str, c: str) -> str:
    recon = (
        f"CAST(floor(({lo} + {c} * ({hi} - {lo}) / 255.0) "
        "* 1048576.0 + 0.5) AS BIGINT)"
    )
    return f"(e.qv[i] - {recon}) * (e.qv[i] - {recon})"


ORACLES["ivfsq_refit_distortion"] = f"""
WITH e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v,
                  {_QUANTIZE.format(v='list_transform(embedding, x -> x::DOUBLE)')} AS qv
           FROM embeddings),
eb AS (SELECT * FROM e WHERE {_APPEND_FIT}),
seeds AS (SELECT vec_id, v FROM eb
          ORDER BY md5(vec_id::VARCHAR), vec_id LIMIT 10),
c0 AS (SELECT row_number() OVER (ORDER BY md5(vec_id::VARCHAR), vec_id) - 1
         AS cell, v AS centroid FROM seeds),
{_kmeans_iter_sql(1, 'c0', src='eb')},
{_kmeans_iter_sql(2, 'c1', src='eb')},
cqf AS (SELECT cell, {_QUANTIZE.format(v='centroid')} AS qc FROM c2),
af AS (SELECT vec_id, cell FROM (
  SELECT q.vec_id, c.cell,
         row_number() OVER (PARTITION BY q.vec_id
                            ORDER BY {_QL2.format(a='q.qv', b='c.qc')},
                                     c.cell) AS rn
  FROM e q, cqf c) WHERE rn = 1),
ab AS (SELECT cell, count(*) AS base_n FROM (
  SELECT q.vec_id, c.cell,
         row_number() OVER (PARTITION BY q.vec_id
                            ORDER BY {_QL2.format(a='q.qv', b='c.qc')},
                                     c.cell) AS rn
  FROM eb q, cqf c) WHERE rn = 1 GROUP BY cell),
aw AS (SELECT cell, count(*) AS new_n FROM af GROUP BY cell),
tb AS (SELECT SUM(base_n) AS tb FROM ab),
tw AS (SELECT SUM(new_n) AS tw FROM aw),
flagged AS (SELECT CAST(COALESCE(ab.cell, aw.cell) AS BIGINT) AS cell
  FROM ab FULL OUTER JOIN aw ON ab.cell = aw.cell, tb, tw
  WHERE (COALESCE(ab.base_n, 0) = 0 AND COALESCE(aw.new_n, 0) > 0)
     OR (COALESCE(ab.base_n, 0) > 0
         AND ((COALESCE(aw.new_n, 0) / tw.tw) / (ab.base_n / tb.tb)) > 1.02)),
b AS (SELECT i, min(v[i]) AS lo, max(v[i]) AS hi
      FROM eb, (SELECT unnest(generate_series(1, 64)) AS i) GROUP BY i),
bl AS (SELECT list(lo ORDER BY i) AS lo, list(hi ORDER BY i) AS hi FROM b),
codes AS (SELECT vec_id,
  list_transform(generate_series(1, 64), i ->
    CASE WHEN bl.hi[i] = bl.lo[i] THEN 0
         ELSE GREATEST(0, LEAST(255,
           CAST(floor((e.v[i] - bl.lo[i]) * 255.0 / (bl.hi[i] - bl.lo[i]) + 0.5)
                AS BIGINT)))
    END) AS c
  FROM e, bl),
pb AS (SELECT af.cell, i, min(e.v[i]) AS lo, max(e.v[i]) AS hi
  FROM e JOIN af ON af.vec_id = e.vec_id
  JOIN flagged f ON f.cell = af.cell,
  (SELECT unnest(generate_series(1, 64)) AS i) GROUP BY af.cell, i),
pbl AS (SELECT cell, list(lo ORDER BY i) AS lo, list(hi ORDER BY i) AS hi
  FROM pb GROUP BY cell),
pcodes AS (SELECT e.vec_id, pbl.cell,
  list_transform(generate_series(1, 64), i ->
    CASE WHEN pbl.hi[i] = pbl.lo[i] THEN 0
         ELSE GREATEST(0, LEAST(255,
           CAST(floor((e.v[i] - pbl.lo[i]) * 255.0 / (pbl.hi[i] - pbl.lo[i]) + 0.5)
                AS BIGINT)))
    END) AS c
  FROM e JOIN af ON af.vec_id = e.vec_id
  JOIN pbl ON pbl.cell = af.cell),
all_err AS (
  SELECT af.cell AS cell,
    list_sum(list_transform(generate_series(1, 64), i ->
      {_sq_own_term('bl.lo[i]', 'bl.hi[i]', 'codes.c[i]')})) AS err
  FROM codes
  JOIN e ON e.vec_id = codes.vec_id
  JOIN af ON af.vec_id = codes.vec_id, bl
  WHERE af.cell NOT IN (SELECT cell FROM flagged)
  UNION ALL
  SELECT pc.cell AS cell,
    list_sum(list_transform(generate_series(1, 64), i ->
      {_sq_own_term('pbl.lo[i]', 'pbl.hi[i]', 'pc.c[i]')})) AS err
  FROM pcodes pc
  JOIN e ON e.vec_id = pc.vec_id
  JOIN pbl ON pbl.cell = pc.cell)
SELECT CAST(cell AS BIGINT) AS cell, COUNT(*) AS n,
  floor(((CAST(SUM(err) AS DOUBLE) / COUNT(*)) / 1099511627776.0)
        * 1e6 + 0.5) / 1e6 AS mse
FROM all_err GROUP BY cell
"""

# The maintained SQ index at BATCH shape (sq.ivfsq_multi_topk_versioned):
# the ivfsq_refit_versioned twin with per-qid probe and query CTEs —
# three probes (vec_id 0, 1, 2 as dense qids), each row's asymmetric
# reconstruction distance read against ITS query, per-qid top-10.
# The escalation ACTUATOR (maintain.split_cells): flagged cells
# re-clustered per cell by the deterministic 2-subcell Lloyd
# (_pq_percell_sql over the FULL 64-dim slice — md5 seeds per cell,
# quantized argmin, smallest-code ties, decimal means that agree with
# the engine's float64 means after 2^-20 quantization), subcell
# centroids joining the codebook under fresh dense ids
# (max_old_cell + rank in (cell, code) order), and the whole corpus
# re-assigned under the union codebook.  qs0 is a dummy query
# subvector for _pq_percell_sql's unused ADC table.
ORACLES["ann_cell_split"] = f"""
WITH e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v,
                  {_QUANTIZE.format(v='list_transform(embedding, x -> x::DOUBLE)')} AS qv
           FROM embeddings),
eb AS (SELECT * FROM e WHERE {_APPEND_FIT}),
seeds AS (SELECT vec_id, v FROM eb
          ORDER BY md5(vec_id::VARCHAR), vec_id LIMIT 10),
c0 AS (SELECT row_number() OVER (ORDER BY md5(vec_id::VARCHAR), vec_id) - 1
         AS cell, v AS centroid FROM seeds),
{_kmeans_iter_sql(1, 'c0', src='eb')},
{_kmeans_iter_sql(2, 'c1', src='eb')},
cqf AS (SELECT cell, {_QUANTIZE.format(v='centroid')} AS qc FROM c2),
af AS (SELECT vec_id, cell FROM (
  SELECT q.vec_id, c.cell,
         row_number() OVER (PARTITION BY q.vec_id
                            ORDER BY {_QL2.format(a='q.qv', b='c.qc')},
                                     c.cell) AS rn
  FROM e q, cqf c) WHERE rn = 1),
ab AS (SELECT cell, count(*) AS base_n FROM (
  SELECT q.vec_id, c.cell,
         row_number() OVER (PARTITION BY q.vec_id
                            ORDER BY {_QL2.format(a='q.qv', b='c.qc')},
                                     c.cell) AS rn
  FROM eb q, cqf c) WHERE rn = 1 GROUP BY cell),
aw AS (SELECT cell, count(*) AS new_n FROM af GROUP BY cell),
tb AS (SELECT SUM(base_n) AS tb FROM ab),
tw AS (SELECT SUM(new_n) AS tw FROM aw),
flagged AS (SELECT CAST(COALESCE(ab.cell, aw.cell) AS BIGINT) AS cell
  FROM ab FULL OUTER JOIN aw ON ab.cell = aw.cell, tb, tw
  WHERE (COALESCE(ab.base_n, 0) = 0 AND COALESCE(aw.new_n, 0) > 0)
     OR (COALESCE(ab.base_n, 0) > 0
         AND ((COALESCE(aw.new_n, 0) / tw.tw) / (ab.base_n / tb.tb)) > 1.02)),
e0 AS (SELECT vec_id, v FROM e),
qs0 AS (SELECT {_QUANTIZE.format(v='v[1:64]')} AS qv FROM e WHERE vec_id = 0),
{_pq_percell_sql(0, 1, 64, 2, 2)},
maxc AS (SELECT MAX(cell) AS m FROM c2),
newsub AS (SELECT CAST(m.m + row_number() OVER (ORDER BY s.cell, s.code)
                       AS BIGINT) AS cell,
                  {_QUANTIZE.format(v='s.centroid')} AS qc
           FROM pc0x2 s, maxc m),
allc AS (SELECT CAST(cell AS BIGINT) AS cell, qc FROM cqf
         WHERE cell NOT IN (SELECT cell FROM flagged)
         UNION ALL
         SELECT cell, qc FROM newsub)
SELECT vec_id, cell FROM (
  SELECT q.vec_id, c.cell,
         row_number() OVER (PARTITION BY q.vec_id
                            ORDER BY {_QL2.format(a='q.qv', b='c.qc')},
                                     c.cell) AS rn
  FROM e q, allc c) WHERE rn = 1
"""

# The escalation meter (maintain.sq_refit_escalation): per refit
# cell, refit-span / global-span per dimension — one float64 division
# quantized at 2^-20, exact int64 max/sum, 6-dp rounded outputs;
# recluster at max > 1.0 (quantized literal 1048576) or any
# globally-constant dim varying inside the refit cell.
ORACLES["ivfsq_refit_escalation"] = f"""
WITH e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v,
                  {_QUANTIZE.format(v='list_transform(embedding, x -> x::DOUBLE)')} AS qv
           FROM embeddings),
eb AS (SELECT * FROM e WHERE {_APPEND_FIT}),
seeds AS (SELECT vec_id, v FROM eb
          ORDER BY md5(vec_id::VARCHAR), vec_id LIMIT 10),
c0 AS (SELECT row_number() OVER (ORDER BY md5(vec_id::VARCHAR), vec_id) - 1
         AS cell, v AS centroid FROM seeds),
{_kmeans_iter_sql(1, 'c0', src='eb')},
{_kmeans_iter_sql(2, 'c1', src='eb')},
cqf AS (SELECT cell, {_QUANTIZE.format(v='centroid')} AS qc FROM c2),
af AS (SELECT vec_id, cell FROM (
  SELECT q.vec_id, c.cell,
         row_number() OVER (PARTITION BY q.vec_id
                            ORDER BY {_QL2.format(a='q.qv', b='c.qc')},
                                     c.cell) AS rn
  FROM e q, cqf c) WHERE rn = 1),
ab AS (SELECT cell, count(*) AS base_n FROM (
  SELECT q.vec_id, c.cell,
         row_number() OVER (PARTITION BY q.vec_id
                            ORDER BY {_QL2.format(a='q.qv', b='c.qc')},
                                     c.cell) AS rn
  FROM eb q, cqf c) WHERE rn = 1 GROUP BY cell),
aw AS (SELECT cell, count(*) AS new_n FROM af GROUP BY cell),
tb AS (SELECT SUM(base_n) AS tb FROM ab),
tw AS (SELECT SUM(new_n) AS tw FROM aw),
flagged AS (SELECT CAST(COALESCE(ab.cell, aw.cell) AS BIGINT) AS cell
  FROM ab FULL OUTER JOIN aw ON ab.cell = aw.cell, tb, tw
  WHERE (COALESCE(ab.base_n, 0) = 0 AND COALESCE(aw.new_n, 0) > 0)
     OR (COALESCE(ab.base_n, 0) > 0
         AND ((COALESCE(aw.new_n, 0) / tw.tw) / (ab.base_n / tb.tb)) > 1.02)),
b AS (SELECT i, min(v[i]) AS lo, max(v[i]) AS hi
      FROM eb, (SELECT unnest(generate_series(1, 64)) AS i) GROUP BY i),
pb AS (SELECT af.cell, i, min(e.v[i]) AS lo, max(e.v[i]) AS hi
  FROM e JOIN af ON af.vec_id = e.vec_id
  JOIN flagged f ON f.cell = af.cell,
  (SELECT unnest(generate_series(1, 64)) AS i) GROUP BY af.cell, i),
r AS (SELECT pb.cell, pb.i, (b.hi - b.lo) AS gs, (pb.hi - pb.lo) AS rs
      FROM pb JOIN b ON b.i = pb.i),
qx AS (SELECT cell,
        CASE WHEN gs > 0
             THEN CAST(floor((rs / gs) * 1048576.0 + 0.5) AS BIGINT)
             ELSE 0 END AS qr,
        CASE WHEN gs = 0 AND rs > 0 THEN 1 ELSE 0 END AS unb
      FROM r)
SELECT CAST(cell AS BIGINT) AS cell, COUNT(*) AS dims,
  floor((CAST(MAX(qr) AS DOUBLE) / 1048576.0) * 1e6 + 0.5)/1e6
    AS max_span_ratio,
  floor(((CAST(SUM(qr) AS DOUBLE) / COUNT(*)) / 1048576.0) * 1e6 + 0.5)/1e6
    AS mean_span_ratio,
  CAST(SUM(unb) AS BIGINT) AS unbounded_dims,
  (MAX(qr) > 1048576) OR (SUM(unb) > 0) AS recluster
FROM qx GROUP BY cell
"""

_IVFSQ_REFIT_MULTI_CTES = f"""
WITH e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v,
                  {_QUANTIZE.format(v='list_transform(embedding, x -> x::DOUBLE)')} AS qv
           FROM embeddings),
eb AS (SELECT * FROM e WHERE {_APPEND_FIT}),
seeds AS (SELECT vec_id, v FROM eb
          ORDER BY md5(vec_id::VARCHAR), vec_id LIMIT 10),
c0 AS (SELECT row_number() OVER (ORDER BY md5(vec_id::VARCHAR), vec_id) - 1
         AS cell, v AS centroid FROM seeds),
{_kmeans_iter_sql(1, 'c0', src='eb')},
{_kmeans_iter_sql(2, 'c1', src='eb')},
cqf AS (SELECT cell, {_QUANTIZE.format(v='centroid')} AS qc FROM c2),
af AS (SELECT vec_id, cell FROM (
  SELECT q.vec_id, c.cell,
         row_number() OVER (PARTITION BY q.vec_id
                            ORDER BY {_QL2.format(a='q.qv', b='c.qc')},
                                     c.cell) AS rn
  FROM e q, cqf c) WHERE rn = 1),
ab AS (SELECT cell, count(*) AS base_n FROM (
  SELECT q.vec_id, c.cell,
         row_number() OVER (PARTITION BY q.vec_id
                            ORDER BY {_QL2.format(a='q.qv', b='c.qc')},
                                     c.cell) AS rn
  FROM eb q, cqf c) WHERE rn = 1 GROUP BY cell),
aw AS (SELECT cell, count(*) AS new_n FROM af GROUP BY cell),
tb AS (SELECT SUM(base_n) AS tb FROM ab),
tw AS (SELECT SUM(new_n) AS tw FROM aw),
flagged AS (SELECT CAST(COALESCE(ab.cell, aw.cell) AS BIGINT) AS cell
  FROM ab FULL OUTER JOIN aw ON ab.cell = aw.cell, tb, tw
  WHERE (COALESCE(ab.base_n, 0) = 0 AND COALESCE(aw.new_n, 0) > 0)
     OR (COALESCE(ab.base_n, 0) > 0
         AND ((COALESCE(aw.new_n, 0) / tw.tw) / (ab.base_n / tb.tb)) > 1.02)),
qm AS (SELECT vec_id AS qid, v, qv AS qvq FROM e WHERE vec_id IN (0, 1, 2)),
probe AS (SELECT qid, cell FROM (
  SELECT q.qid, c.cell,
         row_number() OVER (PARTITION BY q.qid
                            ORDER BY {_QL2.format(a='q.qvq', b='c.qc')} ASC,
                                     c.cell ASC) AS rn
  FROM cqf c, qm q) WHERE rn <= 4),
b AS (SELECT i, min(v[i]) AS lo, max(v[i]) AS hi
      FROM eb, (SELECT unnest(generate_series(1, 64)) AS i) GROUP BY i),
bl AS (SELECT list(lo ORDER BY i) AS lo, list(hi ORDER BY i) AS hi FROM b),
codes AS (SELECT vec_id,
  list_transform(generate_series(1, 64), i ->
    CASE WHEN bl.hi[i] = bl.lo[i] THEN 0
         ELSE GREATEST(0, LEAST(255,
           CAST(floor((e.v[i] - bl.lo[i]) * 255.0 / (bl.hi[i] - bl.lo[i]) + 0.5)
                AS BIGINT)))
    END) AS c
  FROM e, bl),
pb AS (SELECT af.cell, i, min(e.v[i]) AS lo, max(e.v[i]) AS hi
  FROM e JOIN af ON af.vec_id = e.vec_id
  JOIN flagged f ON f.cell = af.cell,
  (SELECT unnest(generate_series(1, 64)) AS i) GROUP BY af.cell, i),
pbl AS (SELECT cell, list(lo ORDER BY i) AS lo, list(hi ORDER BY i) AS hi
  FROM pb GROUP BY cell),
pcodes AS (SELECT e.vec_id, pbl.cell,
  list_transform(generate_series(1, 64), i ->
    CASE WHEN pbl.hi[i] = pbl.lo[i] THEN 0
         ELSE GREATEST(0, LEAST(255,
           CAST(floor((e.v[i] - pbl.lo[i]) * 255.0 / (pbl.hi[i] - pbl.lo[i]) + 0.5)
                AS BIGINT)))
    END) AS c
  FROM e JOIN af ON af.vec_id = e.vec_id
  JOIN pbl ON pbl.cell = af.cell)"""

# the per-qid mixed-bounds asymmetric ranking (row_number select,
# cut applied by the caller) — shared by the batch versioned search
# twin (rk <= 10) and the r14 batch refine twin (candidates at
# rk <= 40 then an exact per-qid cosine re-rank)
_IVFSQ_REFIT_MULTI_RK = f"""
  SELECT qid, vec_id, sq_adist,
         row_number() OVER (PARTITION BY qid
           ORDER BY sq_adist ASC, vec_id ASC) AS rk
  FROM (
    SELECT p.qid, codes.vec_id,
      CAST(list_sum(list_transform(generate_series(1, 64), i ->
        {_sq_asym_term('bl.lo[i]', 'bl.hi[i]', 'codes.c[i]')}))
        AS BIGINT) AS sq_adist
    FROM codes
    JOIN af ON af.vec_id = codes.vec_id
    JOIN probe p ON p.cell = af.cell
    JOIN qm q ON q.qid = p.qid, bl
    WHERE af.cell NOT IN (SELECT cell FROM flagged)
    UNION ALL
    SELECT p.qid, pc.vec_id,
      CAST(list_sum(list_transform(generate_series(1, 64), i ->
        {_sq_asym_term('pbl.lo[i]', 'pbl.hi[i]', 'pc.c[i]')}))
        AS BIGINT) AS sq_adist
    FROM pcodes pc
    JOIN pbl ON pbl.cell = pc.cell
    JOIN probe p ON p.cell = pc.cell
    JOIN qm q ON q.qid = p.qid
  )
"""

ORACLES["ivfsq_refit_versioned_multi"] = _IVFSQ_REFIT_MULTI_CTES + f"""
SELECT qid, vec_id, sq_adist FROM ({_IVFSQ_REFIT_MULTI_RK}) WHERE rk <= 10
"""

# Batch refine over the maintained SQ index
# (sq.ivfsq_multi_refine_topk(overrides=...), r14): per-qid
# candidates from the same ranking at rk <= 40 (k*rf, rf=4), one
# exact round6-cosine re-rank per (qid, id) pair, window top-10.
ORACLES["ivfsq_refit_refine_multi"] = _IVFSQ_REFIT_MULTI_CTES + f""",
candm AS (SELECT qid, vec_id FROM ({_IVFSQ_REFIT_MULTI_RK}) WHERE rk <= 40)
SELECT qid, vec_id, cos_sim FROM (
  SELECT c.qid, e.vec_id, {_R6.format(x=_cos('e.v', 'q.v'))} AS cos_sim,
         row_number() OVER (PARTITION BY c.qid
           ORDER BY {_R6.format(x=_cos('e.v', 'q.v'))} DESC,
                    e.vec_id ASC) AS rk
  FROM candm c
  JOIN e ON e.vec_id = c.vec_id
  JOIN qm q ON q.qid = c.qid
) WHERE rk <= 10
"""

# The refit-recovery LEDGER (recall.refit_recall_ledger, r12 verdict
# item 1): four maintained-family searches — versioned raw and
# versioned residual, each BEFORE (stale global-book index) and AFTER
# (mixed selectively-refit index) — recomputed relationally over the
# md5-sampled 3-probe set, scored against exact float-L2 ground truth,
# and aggregated to (family, k, num_queries, mean_recall, min_recall).
# Two PQ books coexist via the prefix/src parameterization: the raw
# book under prefix "w" (src = raw vectors), the residual book
# unprefixed (src = e0, the residual relation — the
# ivfpq_refit_residual_multi conventions verbatim, with qm the sample
# instead of vec_id IN (0,1,2)).
_LEDGER_SEARCH = """{name} AS (SELECT qid, vec_id FROM (
  SELECT qid, vec_id,
         row_number() OVER (PARTITION BY qid
           ORDER BY dd ASC, vec_id ASC) AS rk
  FROM ({body})) WHERE rk <= 10)"""

_LEDGER_HEAD = f"""
WITH e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v,
                  {_QUANTIZE.format(v='list_transform(embedding, x -> x::DOUBLE)')} AS qv
           FROM embeddings),
eb AS (SELECT * FROM e WHERE {_APPEND_FIT}),
seeds AS (SELECT vec_id, v FROM eb
          ORDER BY md5(vec_id::VARCHAR), vec_id LIMIT 10),
c0 AS (SELECT row_number() OVER (ORDER BY md5(vec_id::VARCHAR), vec_id) - 1
         AS cell, v AS centroid FROM seeds),
{_kmeans_iter_sql(1, 'c0', src='eb')},
{_kmeans_iter_sql(2, 'c1', src='eb')},
cqf AS (SELECT cell, {_QUANTIZE.format(v='centroid')} AS qc FROM c2),
af AS (SELECT vec_id, cell FROM (
  SELECT q.vec_id, c.cell,
         row_number() OVER (PARTITION BY q.vec_id
                            ORDER BY {_QL2.format(a='q.qv', b='c.qc')},
                                     c.cell) AS rn
  FROM e q, cqf c) WHERE rn = 1),
ab AS (SELECT cell, count(*) AS base_n FROM (
  SELECT q.vec_id, c.cell,
         row_number() OVER (PARTITION BY q.vec_id
                            ORDER BY {_QL2.format(a='q.qv', b='c.qc')},
                                     c.cell) AS rn
  FROM eb q, cqf c) WHERE rn = 1 GROUP BY cell),
aw AS (SELECT cell, count(*) AS new_n FROM af GROUP BY cell),
tb AS (SELECT SUM(base_n) AS tb FROM ab),
tw AS (SELECT SUM(new_n) AS tw FROM aw),
flagged AS (SELECT CAST(COALESCE(ab.cell, aw.cell) AS BIGINT) AS cell
  FROM ab FULL OUTER JOIN aw ON ab.cell = aw.cell, tb, tw
  WHERE (COALESCE(ab.base_n, 0) = 0 AND COALESCE(aw.new_n, 0) > 0)
     OR (COALESCE(ab.base_n, 0) > 0
         AND ((COALESCE(aw.new_n, 0) / tw.tw) / (ab.base_n / tb.tb)) > 1.02)),
qm AS (SELECT vec_id AS qid, v, qv AS qvq FROM e
       ORDER BY md5(vec_id::VARCHAR), vec_id LIMIT 3),
probe AS (SELECT qid, cell FROM (
  SELECT q.qid, c.cell,
         row_number() OVER (PARTITION BY q.qid
                            ORDER BY {_QL2.format(a='q.qvq', b='c.qc')} ASC,
                                     c.cell ASC) AS rn
  FROM cqf c, qm q) WHERE rn <= 4),
e0w AS (SELECT vec_id, v FROM e),
{_pq_sub_sql(0, 1, 32, 4, 2, query=False, fit_where=_APPEND_FIT, prefix='w', src='e0w')},
{_pq_sub_sql(1, 33, 64, 4, 2, query=False, fit_where=_APPEND_FIT, prefix='w', src='e0w')},
wqs0m AS (SELECT qid, {_QUANTIZE.format(v='v[1:32]')} AS qv FROM qm),
wqd0m AS (SELECT q.qid, c.cell, {_QL2_N.format(n=32, a='q.qv', b='c.qc')} AS d
  FROM wcqf0 c, wqs0m q),
wqs1m AS (SELECT qid, {_QUANTIZE.format(v='v[33:64]')} AS qv FROM qm),
wqd1m AS (SELECT q.qid, c.cell, {_QL2_N.format(n=32, a='q.qv', b='c.qc')} AS d
  FROM wcqf1 c, wqs1m q),
{_pq_percell_sql(0, 1, 32, 4, 2, multi=True, prefix='w', src='e0w')},
{_pq_percell_sql(1, 33, 64, 4, 2, multi=True, prefix='w', src='e0w')},
e0 AS (SELECT e.vec_id,
         list_transform(generate_series(1, 64), i -> e.v[i] - c.centroid[i]) AS v
       FROM e JOIN af ON af.vec_id = e.vec_id JOIN c2 c ON c.cell = af.cell),
{_pq_sub_sql(0, 1, 32, 4, 2, query=False, fit_where=_APPEND_FIT)},
{_pq_sub_sql(1, 33, 64, 4, 2, query=False, fit_where=_APPEND_FIT)},
qresm AS (SELECT q.qid, p.cell AS pcell,
    list_transform(generate_series(1, 64), i -> q.v[i] - c.centroid[i]) AS v
  FROM probe p JOIN c2 c ON c.cell = p.cell JOIN qm q ON q.qid = p.qid),
qs0rm AS (SELECT qid, pcell, {_QUANTIZE.format(v='v[1:32]')} AS qv FROM qresm),
qd0rm AS (SELECT q.qid, q.pcell, c.cell,
    {_QL2_N.format(n=32, a='q.qv', b='c.qc')} AS d
  FROM cqf0 c, qs0rm q),
qs1rm AS (SELECT qid, pcell, {_QUANTIZE.format(v='v[33:64]')} AS qv FROM qresm),
qd1rm AS (SELECT q.qid, q.pcell, c.cell,
    {_QL2_N.format(n=32, a='q.qv', b='c.qc')} AS d
  FROM cqf1 c, qs1rm q),
{_pq_percell_sql(0, 1, 32, 4, 2, residual=True, multi=True)},
{_pq_percell_sql(1, 33, 64, 4, 2, residual=True, multi=True)},
m_af AS MATERIALIZED (SELECT * FROM af),
m_probe AS MATERIALIZED (SELECT * FROM probe),
m_flagged AS MATERIALIZED (SELECT * FROM flagged),
m_wcode0 AS MATERIALIZED (SELECT * FROM wcode0),
m_wcode1 AS MATERIALIZED (SELECT * FROM wcode1),
m_wqd0m AS MATERIALIZED (SELECT * FROM wqd0m),
m_wqd1m AS MATERIALIZED (SELECT * FROM wqd1m),
m_wpcode0 AS MATERIALIZED (SELECT * FROM wpcode0),
m_wpcode1 AS MATERIALIZED (SELECT * FROM wpcode1),
m_wpqd0 AS MATERIALIZED (SELECT * FROM wpqd0),
m_wpqd1 AS MATERIALIZED (SELECT * FROM wpqd1),
m_code0 AS MATERIALIZED (SELECT * FROM code0),
m_code1 AS MATERIALIZED (SELECT * FROM code1),
m_qd0rm AS MATERIALIZED (SELECT * FROM qd0rm),
m_qd1rm AS MATERIALIZED (SELECT * FROM qd1rm),
m_pcode0 AS MATERIALIZED (SELECT * FROM pcode0),
m_pcode1 AS MATERIALIZED (SELECT * FROM pcode1),
m_pqd0 AS MATERIALIZED (SELECT * FROM pqd0),
m_pqd1 AS MATERIALIZED (SELECT * FROM pqd1)"""

# The four versioned search bodies (qid, vec_id, dd) — shared by the
# rk<=10 ledger searches AND the r14 refine twin's rk<=40 candidate
# cuts (the same ranking, wider pool).
_LB_RAW_PRE = '''
    SELECT p.qid, c0.vec_id, g0.d + g1.d AS dd
    FROM m_wcode0 c0
    JOIN m_wcode1 c1 ON c1.vec_id = c0.vec_id
    JOIN m_af af ON af.vec_id = c0.vec_id
    JOIN m_probe p ON p.cell = af.cell
    JOIN m_wqd0m g0 ON g0.cell = c0.cell AND g0.qid = p.qid
    JOIN m_wqd1m g1 ON g1.cell = c1.cell AND g1.qid = p.qid'''
_LB_RAW_POST = '''
    SELECT p.qid, c0.vec_id, g0.d + g1.d AS dd
    FROM m_wcode0 c0
    JOIN m_wcode1 c1 ON c1.vec_id = c0.vec_id
    JOIN m_af af ON af.vec_id = c0.vec_id
    JOIN m_probe p ON p.cell = af.cell
    JOIN m_wqd0m g0 ON g0.cell = c0.cell AND g0.qid = p.qid
    JOIN m_wqd1m g1 ON g1.cell = c1.cell AND g1.qid = p.qid
    WHERE af.cell NOT IN (SELECT cell FROM m_flagged)
    UNION ALL
    SELECT p.qid, p0.vec_id, d0.d + d1.d AS dd
    FROM m_wpcode0 p0
    JOIN m_wpcode1 p1 ON p1.vec_id = p0.vec_id
    JOIN m_probe p ON p.cell = p0.cell
    JOIN m_wpqd0 d0 ON d0.cell = p0.cell AND d0.code = p0.code
                 AND d0.qid = p.qid
    JOIN m_wpqd1 d1 ON d1.cell = p1.cell AND d1.code = p1.code
                 AND d1.qid = p.qid'''
_LB_RES_PRE = '''
    SELECT p.qid, c0.vec_id, g0.d + g1.d AS dd
    FROM m_code0 c0
    JOIN m_code1 c1 ON c1.vec_id = c0.vec_id
    JOIN m_af af ON af.vec_id = c0.vec_id
    JOIN m_probe p ON p.cell = af.cell
    JOIN m_qd0rm g0 ON g0.cell = c0.cell AND g0.pcell = af.cell
                 AND g0.qid = p.qid
    JOIN m_qd1rm g1 ON g1.cell = c1.cell AND g1.pcell = af.cell
                 AND g1.qid = p.qid'''
_LB_RES_POST = '''
    SELECT p.qid, c0.vec_id, g0.d + g1.d AS dd
    FROM m_code0 c0
    JOIN m_code1 c1 ON c1.vec_id = c0.vec_id
    JOIN m_af af ON af.vec_id = c0.vec_id
    JOIN m_probe p ON p.cell = af.cell
    JOIN m_qd0rm g0 ON g0.cell = c0.cell AND g0.pcell = af.cell
                 AND g0.qid = p.qid
    JOIN m_qd1rm g1 ON g1.cell = c1.cell AND g1.pcell = af.cell
                 AND g1.qid = p.qid
    WHERE af.cell NOT IN (SELECT cell FROM m_flagged)
    UNION ALL
    SELECT p.qid, p0.vec_id, d0.d + d1.d AS dd
    FROM m_pcode0 p0
    JOIN m_pcode1 p1 ON p1.vec_id = p0.vec_id
    JOIN m_probe p ON p.cell = p0.cell
    JOIN m_pqd0 d0 ON d0.cell = p0.cell AND d0.code = p0.code
                AND d0.qid = p.qid
    JOIN m_pqd1 d1 ON d1.cell = p1.cell AND d1.code = p1.code
                AND d1.qid = p.qid'''

_LEDGER_EXACTQ = """exactq AS (SELECT qid, vec_id FROM (
  SELECT q.qid, e.vec_id,
         row_number() OVER (PARTITION BY q.qid
           ORDER BY list_sum(list_transform(generate_series(1, 64),
                      i -> (e.v[i]-q.v[i])*(e.v[i]-q.v[i]))) ASC,
                    e.vec_id ASC) AS rk
  FROM e, qm q) WHERE rk <= 10)"""


def _ledger_tail(fams: list[str]) -> str:
    """hits/rec/final-SELECT over the union'd family CTEs (allf must
    already be defined)."""
    lst = ", ".join(f"'{f}'" for f in fams)
    return f"""rec AS (SELECT fams.fam, q.qid, COALESCE(h.c, 0)/10.0 AS r
  FROM (SELECT qid FROM qm) q
  CROSS JOIN (SELECT unnest([{lst}]) AS fam) fams
  LEFT JOIN hits h ON h.fam = fams.fam AND h.qid = q.qid)
SELECT fam AS family, CAST(10 AS BIGINT) AS k,
  CAST(3 AS BIGINT) AS num_queries,
  floor(avg(r)*1e6 + 0.5)/1e6 AS mean_recall,
  floor(min(r)*1e6 + 0.5)/1e6 AS min_recall
FROM rec GROUP BY fam
"""


ORACLES["ann_refit_recall_ledger"] = (
    _LEDGER_HEAD + ",\n"
    + _LEDGER_SEARCH.format(name="raw_pre", body=_LB_RAW_PRE) + ",\n"
    + _LEDGER_SEARCH.format(name="raw_post", body=_LB_RAW_POST) + ",\n"
    + _LEDGER_SEARCH.format(name="res_pre", body=_LB_RES_PRE) + ",\n"
    + _LEDGER_SEARCH.format(name="res_post", body=_LB_RES_POST) + ",\n"
    + _LEDGER_EXACTQ + ",\n"
    + """allf AS (
  SELECT 'versioned_raw_pre' AS fam, qid, vec_id FROM raw_pre
  UNION ALL
  SELECT 'versioned_raw_post' AS fam, qid, vec_id FROM raw_post
  UNION ALL
  SELECT 'versioned_residual_pre' AS fam, qid, vec_id FROM res_pre
  UNION ALL
  SELECT 'versioned_residual_post' AS fam, qid, vec_id FROM res_post),
hits AS (SELECT fam, f.qid, COUNT(*) AS c
  FROM allf f JOIN exactq x ON x.qid = f.qid AND x.vec_id = f.vec_id
  GROUP BY fam, f.qid),
"""
    + _ledger_tail(["versioned_raw_pre", "versioned_raw_post",
                    "versioned_residual_pre", "versioned_residual_post"])
)

# The refine twin (r13 verdict item 1): the SAME four versioned
# rankings cut at rk <= 40 (k·rf, rf=4 explicit) feed an exact
# round6-cosine re-rank per qid, measured against exact-COSINE ground
# truth — the re-rank's own metric — alongside the four compressed
# families vs exact L2.  Eight families, one relation.
_LEDGER_CAND = """{name} AS (SELECT qid, vec_id FROM (
  SELECT qid, vec_id,
         row_number() OVER (PARTITION BY qid
           ORDER BY dd ASC, vec_id ASC) AS rk
  FROM ({body})) WHERE rk <= 40)"""

_LEDGER_REFINE = f"""{{name}} AS (SELECT qid, vec_id FROM (
  SELECT qid, vec_id,
         row_number() OVER (PARTITION BY qid
           ORDER BY cs DESC, vec_id ASC) AS rk
  FROM (SELECT c.qid, c.vec_id, {_R6.format(x=_cos('e.v', 'q.v'))} AS cs
        FROM {{cand}} c JOIN e ON e.vec_id = c.vec_id
        JOIN qm q ON q.qid = c.qid)) WHERE rk <= 10)"""

_LEDGER_EXACTCQ = f"""exactcq AS (SELECT qid, vec_id FROM (
  SELECT q.qid, e.vec_id,
         row_number() OVER (PARTITION BY q.qid
           ORDER BY {_R6.format(x=_cos('e.v', 'q.v'))} DESC,
                    e.vec_id ASC) AS rk
  FROM e, qm q) WHERE rk <= 10)"""

ORACLES["ann_refit_recall_ledger_refine"] = (
    _LEDGER_HEAD + ",\n"
    + _LEDGER_SEARCH.format(name="raw_pre", body=_LB_RAW_PRE) + ",\n"
    + _LEDGER_SEARCH.format(name="raw_post", body=_LB_RAW_POST) + ",\n"
    + _LEDGER_SEARCH.format(name="res_pre", body=_LB_RES_PRE) + ",\n"
    + _LEDGER_SEARCH.format(name="res_post", body=_LB_RES_POST) + ",\n"
    + _LEDGER_CAND.format(name="raw_pre_c", body=_LB_RAW_PRE) + ",\n"
    + _LEDGER_CAND.format(name="raw_post_c", body=_LB_RAW_POST) + ",\n"
    + _LEDGER_CAND.format(name="res_pre_c", body=_LB_RES_PRE) + ",\n"
    + _LEDGER_CAND.format(name="res_post_c", body=_LB_RES_POST) + ",\n"
    + _LEDGER_REFINE.format(name="raw_pre_r", cand="raw_pre_c") + ",\n"
    + _LEDGER_REFINE.format(name="raw_post_r", cand="raw_post_c") + ",\n"
    + _LEDGER_REFINE.format(name="res_pre_r", cand="res_pre_c") + ",\n"
    + _LEDGER_REFINE.format(name="res_post_r", cand="res_post_c") + ",\n"
    + _LEDGER_EXACTQ + ",\n"
    + _LEDGER_EXACTCQ + ",\n"
    + """allf AS (
  SELECT 'versioned_raw_pre' AS fam, qid, vec_id FROM raw_pre
  UNION ALL
  SELECT 'versioned_raw_post' AS fam, qid, vec_id FROM raw_post
  UNION ALL
  SELECT 'versioned_residual_pre' AS fam, qid, vec_id FROM res_pre
  UNION ALL
  SELECT 'versioned_residual_post' AS fam, qid, vec_id FROM res_post),
allrf AS (
  SELECT 'versioned_raw_refine_pre' AS fam, qid, vec_id FROM raw_pre_r
  UNION ALL
  SELECT 'versioned_raw_refine_post' AS fam, qid, vec_id FROM raw_post_r
  UNION ALL
  SELECT 'versioned_residual_refine_pre' AS fam, qid, vec_id
  FROM res_pre_r
  UNION ALL
  SELECT 'versioned_residual_refine_post' AS fam, qid, vec_id
  FROM res_post_r),
hits AS (
  SELECT fam, f.qid, COUNT(*) AS c
  FROM allf f JOIN exactq x ON x.qid = f.qid AND x.vec_id = f.vec_id
  GROUP BY fam, f.qid
  UNION ALL
  SELECT fam, f.qid, COUNT(*) AS c
  FROM allrf f JOIN exactcq x ON x.qid = f.qid AND x.vec_id = f.vec_id
  GROUP BY fam, f.qid),
"""
    + _ledger_tail([
        "versioned_raw_pre", "versioned_raw_post",
        "versioned_residual_pre", "versioned_residual_post",
        "versioned_raw_refine_pre", "versioned_raw_refine_post",
        "versioned_residual_refine_pre", "versioned_residual_refine_post",
    ])
)

# Binary quantization (operators/bq.py): sign bit per md5-seeded
# hyperplane (the embedding-LSH dot/sign convention), packed 32 bits
# per word, Hamming = popcount of xor per word summed.  BIGINT-cast
# (the r8 HUGEINT lesson applies to bit_count's return type too).


def _bq_words_sql(num_planes: int = 64, dim: int = 64) -> str:
    from img2dataset_spark.operators.similarity import hyperplane_coeffs

    hp = hyperplane_coeffs(num_planes, dim)

    def bit(j: int) -> str:
        coeffs = "[" + ",".join(str(c) for c in hp[j]) + "]"
        return (
            f"(CASE WHEN list_sum(list_transform(generate_series(1,{dim}), "
            f"i -> qv[i] * ({coeffs})[i])) >= 0 THEN {1 << (j % 32)}::BIGINT "
            f"ELSE 0::BIGINT END)"
        )

    words = []
    for w in range((num_planes + 31) // 32):
        js = range(w * 32, min(num_planes, w * 32 + 32))
        words.append("(" + " + ".join(bit(j) for j in js) + ")")
    return "[" + ", ".join(words) + "]"


_BQ_HAMMING = " + ".join(
    f"bit_count(xor(codes.c[{w + 1}], q.qc[{w + 1}]))" for w in range(2)
)

ORACLES["bq_topk"] = f"""
WITH e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v
           FROM embeddings),
qz AS (SELECT vec_id,
         list_transform(v, x -> CAST(floor(x*1048576 + 0.5) AS BIGINT)) AS qv
       FROM e),
codes AS (SELECT vec_id, {_bq_words_sql(64, 64)} AS c FROM qz),
q AS (SELECT c AS qc FROM codes WHERE vec_id = 0)
SELECT codes.vec_id, CAST({_BQ_HAMMING} AS BIGINT) AS hamming
FROM codes, q
ORDER BY hamming ASC, codes.vec_id ASC LIMIT 10
"""

# Two-stage binary refine (bq_refine_topk): the bq_topk candidate CTE
# widened to k·refine_factor = 40 rows, then an EXACT-cosine re-rank of
# just those ids — ann_cosine_topk's formula and output convention
# (the ivfpq_refine_topk recipe applied to the popcount screen).
ORACLES["bq_refine_topk"] = f"""
WITH e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v
           FROM embeddings),
qz AS (SELECT vec_id,
         list_transform(v, x -> CAST(floor(x*1048576 + 0.5) AS BIGINT)) AS qv
       FROM e),
codes AS (SELECT vec_id, {_bq_words_sql(64, 64)} AS c FROM qz),
q AS (SELECT c AS qc FROM codes WHERE vec_id = 0),
cand AS (SELECT codes.vec_id FROM codes, q
         ORDER BY CAST({_BQ_HAMMING} AS BIGINT) ASC, codes.vec_id ASC
         LIMIT 40),
qq AS (SELECT v AS qv FROM e WHERE vec_id = 0)
SELECT e.vec_id, {_R6.format(x=_cos('e.v', 'qq.qv'))} AS cos_sim
FROM e JOIN cand ON cand.vec_id = e.vec_id, qq
ORDER BY cos_sim DESC, e.vec_id ASC LIMIT 10
"""

# IVF+BQ (ivfbq_topk): the shared coarse-kmeans/probe CTEs restrict the
# popcount Hamming scan to the top-nprobe cells' packed words.
ORACLES["ivfbq_topk"] = f"""
WITH e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v,
                  {_QUANTIZE.format(v='list_transform(embedding, x -> x::DOUBLE)')} AS qv
           FROM embeddings),
seeds AS (SELECT vec_id, v FROM e
          ORDER BY md5(vec_id::VARCHAR), vec_id LIMIT 10),
c0 AS (SELECT row_number() OVER (ORDER BY md5(vec_id::VARCHAR), vec_id) - 1
         AS cell, v AS centroid FROM seeds),
{_kmeans_iter_sql(1, 'c0')},
{_kmeans_iter_sql(2, 'c1')},
cqf AS (SELECT cell, {_QUANTIZE.format(v='centroid')} AS qc FROM c2),
af AS (SELECT vec_id, cell FROM (
  SELECT q.vec_id, c.cell,
         row_number() OVER (PARTITION BY q.vec_id
                            ORDER BY {_QL2.format(a='q.qv', b='c.qc')},
                                     c.cell) AS rn
  FROM e q, cqf c) WHERE rn = 1),
qq AS (SELECT v AS qv FROM e WHERE vec_id = 0),
probe AS (
  SELECT cell FROM (
    SELECT cell, {_R6.format(x=_cos('centroid', 'qv'))} AS c_sim FROM c2, qq)
  ORDER BY c_sim DESC, cell ASC LIMIT 2),
codes AS (SELECT vec_id, {_bq_words_sql(64, 64)} AS c FROM e),
q AS (SELECT c AS qc FROM codes WHERE vec_id = 0)
SELECT codes.vec_id, CAST({_BQ_HAMMING} AS BIGINT) AS hamming
FROM codes JOIN af ON af.vec_id = codes.vec_id, q
WHERE af.cell IN (SELECT cell FROM probe)
ORDER BY hamming ASC, codes.vec_id ASC LIMIT 10
"""

# Batch IVF+BQ (bq.ivfbq_multi_topk): three probes through ONE
# popcount scan — per-qid COSINE probe (the angle family's rule),
# per-qid query words from the SAME codes relation, per-qid top-10.
_BQ_HAMMING_M = " + ".join(
    f"bit_count(xor(codes.c[{w + 1}], qcm.qc[{w + 1}]))" for w in range(2)
)
ORACLES["ivfbq_multi_topk"] = f"""
WITH e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v,
                  {_QUANTIZE.format(v='list_transform(embedding, x -> x::DOUBLE)')} AS qv
           FROM embeddings),
seeds AS (SELECT vec_id, v FROM e
          ORDER BY md5(vec_id::VARCHAR), vec_id LIMIT 10),
c0 AS (SELECT row_number() OVER (ORDER BY md5(vec_id::VARCHAR), vec_id) - 1
         AS cell, v AS centroid FROM seeds),
{_kmeans_iter_sql(1, 'c0')},
{_kmeans_iter_sql(2, 'c1')},
cqf AS (SELECT cell, {_QUANTIZE.format(v='centroid')} AS qc FROM c2),
af AS (SELECT vec_id, cell FROM (
  SELECT q.vec_id, c.cell,
         row_number() OVER (PARTITION BY q.vec_id
                            ORDER BY {_QL2.format(a='q.qv', b='c.qc')},
                                     c.cell) AS rn
  FROM e q, cqf c) WHERE rn = 1),
qm AS (SELECT vec_id AS qid, v AS qvr FROM e WHERE vec_id IN (0, 1, 2)),
probe AS (SELECT qid, cell FROM (
  SELECT q.qid, c.cell,
         row_number() OVER (PARTITION BY q.qid
                            ORDER BY {_R6.format(x=_cos('c.centroid', 'q.qvr'))} DESC,
                                     c.cell ASC) AS rn
  FROM c2 c, qm q) WHERE rn <= 2),
codes AS (SELECT vec_id, {_bq_words_sql(64, 64)} AS c FROM e),
qcm AS (SELECT vec_id AS qid, c AS qc FROM codes WHERE vec_id IN (0, 1, 2))
SELECT qid, vec_id, hamming FROM (
  SELECT p.qid, codes.vec_id,
         CAST({_BQ_HAMMING_M} AS BIGINT) AS hamming,
         row_number() OVER (PARTITION BY p.qid
           ORDER BY CAST({_BQ_HAMMING_M} AS BIGINT) ASC,
                    codes.vec_id ASC) AS rk
  FROM codes
  JOIN af ON af.vec_id = codes.vec_id
  JOIN probe p ON p.cell = af.cell
  JOIN qcm ON qcm.qid = p.qid
) WHERE rk <= 10
"""

# IVF+BQ + refine: the ivfbq candidate chain widened to k·factor, then
# the exact-cosine re-rank (ann_cosine_topk's formula and convention).
ORACLES["ivfbq_refine_topk"] = (
    ORACLES["ivfbq_topk"].rsplit("SELECT codes.vec_id,", 1)[0].rstrip()
    + f""",
cand AS (
  SELECT codes.vec_id, CAST({_BQ_HAMMING} AS BIGINT) AS hamming
  FROM codes JOIN af ON af.vec_id = codes.vec_id, q
  WHERE af.cell IN (SELECT cell FROM probe)
  ORDER BY hamming ASC, codes.vec_id ASC LIMIT 40)
SELECT e.vec_id, {_R6.format(x=_cos('e.v', 'qq.qv'))} AS cos_sim
FROM e JOIN cand ON cand.vec_id = e.vec_id, qq
ORDER BY cos_sim DESC, e.vec_id ASC LIMIT 10
"""
)

# -- random-hyperplane LSH near-dup (label-free) ----------------------------
# Same md5-seeded integer hyperplanes as operators.similarity
# .hyperplane_coeffs, inlined as literals; sign bits from an EXACT integer
# dot over fixed-point-quantized vectors (floor(x*2^20+0.5)), so both
# engines agree bit-for-bit with no float fold-order hazard.


def _hp_band_sql(num_planes: int = 32, num_bands: int = 4, dim: int = 64) -> str:
    from img2dataset_spark.operators.similarity import hyperplane_coeffs

    hp = hyperplane_coeffs(num_planes, dim)
    rows = num_planes // num_bands

    def bit(j: int) -> str:
        coeffs = "[" + ",".join(str(c) for c in hp[j]) + "]"
        return (
            f"(CASE WHEN list_sum(list_transform(generate_series(1,{dim}), "
            f"i -> qv[i] * ({coeffs})[i])) >= 0 THEN '1' ELSE '0' END)"
        )

    bands = ", ".join(
        f"'{b}:' || " + " || ".join(bit(b * rows + r) for r in range(rows))
        for b in range(num_bands)
    )
    return f"[{bands}]"


# Verification metric = cosine of the quantized vectors (matching
# make_pair_qcosine_udf): integer dot/norms are exact and
# order-independent, so numpy batch sums and list_sum agree bit-for-bit.
_QDOT = "list_sum(list_transform(generate_series(1, 64), i -> {a}[i]*{b}[i]))"

ORACLES["embedding_dup_pairs_lsh"] = f"""
WITH e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v
           FROM embeddings),
qz AS (SELECT vec_id, v,
         list_transform(v, x -> CAST(floor(x*1048576 + 0.5) AS BIGINT)) AS qv
       FROM e),
banded AS (SELECT vec_id, unnest({_hp_band_sql()}) AS band FROM qz),
ok AS (SELECT band FROM banded GROUP BY band HAVING COUNT(*) <= 1000),
bb AS (SELECT vec_id, band FROM banded WHERE band IN (SELECT band FROM ok)),
cand AS (
  SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
  FROM bb a JOIN bb b ON a.band = b.band AND a.vec_id < b.vec_id)
SELECT id_a, id_b, cos_sim FROM (
  SELECT c.id_a, c.id_b,
    {_R6.format(x=f"({_QDOT.format(a='a.qv', b='b.qv')})::DOUBLE / "
                  f"(sqrt(({_QDOT.format(a='a.qv', b='a.qv')})::DOUBLE) * "
                  f"sqrt(({_QDOT.format(a='b.qv', b='b.qv')})::DOUBLE))")} AS cos_sim
  FROM cand c
  JOIN qz a ON a.vec_id = c.id_a
  JOIN qz b ON b.vec_id = c.id_b)
WHERE cos_sim >= 0.3
"""

# -- flagship pipeline oracle ----------------------------------------------

_DISALLOWED_MSG = "Use of image disallowed by X-Robots-Tag directive"
_404_MSG = "HTTP Error 404: Not Found"

_PIPE_BASE = """
  SELECT doc_id, substr(text, 1, 32) AS caption,
    'http://synth.local/' ||
    CASE WHEN doc_id % 17 = 0 THEN 'missing/'
         WHEN doc_id % 23 = 0 THEN 'disallowed/'
         ELSE 'img/' END || doc_id::VARCHAR || '.jpg' AS url
  FROM documents
"""

ORACLES["pipeline_e2e"] = f"""
WITH base AS ({_PIPE_BASE}),
sharded AS (
  SELECT *, (ROW_NUMBER() OVER (ORDER BY url) - 1) AS idx FROM base),
f AS (
  SELECT *, idx // 100 AS shard_id,
    printf('%05d%02d', idx // 100, idx % 100) AS key,
    CASE WHEN url LIKE '%/missing/%' THEN '{_404_MSG}'
         WHEN url LIKE '%/disallowed/%' THEN '{_DISALLOWED_MSG}' END AS fetch_error,
    md5(url) AS m
  FROM sharded),
g AS (
  SELECT *, repeat(m, 8) AS payload,
    64 + (ascii(substr(m,1,1))*256 + ascii(substr(m,2,1))) % 1985 AS ow,
    64 + (ascii(substr(m,3,1))*256 + ascii(substr(m,4,1))) % 1985 AS oh
  FROM f),
h AS (
  SELECT *, CASE WHEN fetch_error IS NOT NULL THEN NULL
    WHEN least(ow, oh) < 200 THEN 'image too small'
    WHEN ow*oh > 2000000 THEN 'image area too large'
    WHEN greatest(ow, oh) / least(ow, oh) > 4.0 THEN 'aspect ratio too large'
    END AS tr_error
  FROM g)
SELECT doc_id, url, caption, key, shard_id,
  CASE WHEN fetch_error IS NOT NULL THEN 'failed_to_download'
       WHEN tr_error IS NOT NULL THEN 'failed_to_resize'
       ELSE 'success' END AS status,
  COALESCE(fetch_error, tr_error) AS error_message,
  CASE WHEN fetch_error IS NULL AND tr_error IS NULL THEN 256 END::INTEGER AS width,
  CASE WHEN fetch_error IS NULL AND tr_error IS NULL THEN 256 END::INTEGER AS height,
  CASE WHEN fetch_error IS NULL AND tr_error IS NULL THEN ow END::INTEGER AS original_width,
  CASE WHEN fetch_error IS NULL AND tr_error IS NULL THEN oh END::INTEGER AS original_height,
  CASE WHEN fetch_error IS NULL THEN sha256(payload) END AS sha256,
  CASE WHEN fetch_error IS NULL AND tr_error IS NULL THEN
    CASE WHEN ow = 256 AND oh = 256 THEN md5(payload)
         ELSE md5(md5(payload || '|256x256')) END END AS payload_md5
FROM h
"""

ORACLES["pipeline_verify_hash"] = f"""
WITH base AS ({_PIPE_BASE}),
sharded AS (
  SELECT *, (ROW_NUMBER() OVER (ORDER BY url) - 1) AS idx FROM base),
f AS (
  SELECT *, printf('%05d%02d', idx // 100, idx % 100) AS key,
    CASE WHEN url LIKE '%/missing/%' THEN '{_404_MSG}'
         WHEN url LIKE '%/disallowed/%' THEN '{_DISALLOWED_MSG}' END AS fetch_error,
    repeat(md5(url), 8) AS payload,
    CASE WHEN doc_id % 13 = 0 THEN md5('wrong|' || url)
         ELSE md5(repeat(md5(url), 8)) END AS expected
  FROM sharded),
g AS (
  SELECT *, CASE WHEN fetch_error IS NULL AND expected <> md5(payload)
                 THEN true ELSE false END AS mismatch
  FROM f)
SELECT doc_id, key,
  CASE WHEN fetch_error IS NOT NULL THEN 'failed_to_download'
       WHEN mismatch THEN 'failed_to_download'
       ELSE 'success' END AS status,
  COALESCE(fetch_error, CASE WHEN mismatch THEN 'hash mismatch' END) AS error_message,
  CASE WHEN fetch_error IS NULL AND NOT mismatch THEN md5(payload) END AS md5
FROM g
"""

# -- corpus profiling / sampling (beyond-reference M6 additions) ------------

ORACLES["text_vocab"] = """
WITH tok AS (
  SELECT doc_id,
         unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS token
  FROM documents
),
t AS (
  SELECT token, COUNT(*) AS tf, COUNT(DISTINCT doc_id) AS df
  FROM tok WHERE token <> '' GROUP BY token
),
n AS (SELECT COUNT(*) AS n_docs FROM documents)
SELECT token, tf, df,
       FLOOR(ln(CAST(n_docs AS DOUBLE) / df) * 1e6 + 0.5) / 1e6 AS idf
FROM t, n
ORDER BY tf DESC, token ASC LIMIT 50
"""

ORACLES["sample_stratified"] = f"""
SELECT doc_id, source FROM documents
WHERE ({_hv_of("md5(doc_id::VARCHAR)")}) % 100 < 20
"""

ORACLES["text_length_quantiles"] = """
SELECT source,
       COUNT(*) AS cnt,
       MIN(n_chars) AS min_chars,
       MAX(n_chars) AS max_chars,
       FLOOR(quantile_cont(n_chars, 0.5) * 1e6 + 0.5) / 1e6 AS p50,
       FLOOR(quantile_cont(n_chars, 0.9) * 1e6 + 0.5) / 1e6 AS p90,
       FLOOR(quantile_cont(n_chars, 0.99) * 1e6 + 0.5) / 1e6 AS p99
FROM documents GROUP BY source
"""

# Sequence packing: inclusive cumsum over doc_id order gives each doc's
# token interval [e - tok, e); the blocks it touches and the slice
# geometry are pure integer interval arithmetic.  Same BPE pre-tokenizer
# regex as text_fingerprint.
ORACLES["pack_sequences"] = r"""
WITH t AS (
  SELECT doc_id,
         len(regexp_extract_all(lower(text),
             '''s|''t|''re|''ve|''m|''ll|''d| ?[a-zA-Z]+| ?[0-9]+| ?[^\sa-zA-Z0-9]+'))::BIGINT AS tok
  FROM documents
), c AS (
  SELECT doc_id, tok,
         (sum(tok) OVER (ORDER BY doc_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))::BIGINT AS e
  FROM t WHERE tok > 0
)
SELECT b AS block_id, doc_id,
       greatest(e - tok, b * 512) - (e - tok) AS doc_offset,
       greatest(e - tok, b * 512) - b * 512 AS block_offset,
       least(e, (b + 1) * 512) - greatest(e - tok, b * 512) AS slice_len
FROM c, LATERAL unnest(
  generate_series(((e - tok) // 512)::BIGINT, ((e - 1) // 512)::BIGINT)
) AS u(b)
"""

# Materialized packing: the digest (md5 over each block's concatenated
# token slices, assembled in block_offset order) proves both engines
# agree on every token BOUNDARY, not just the counts the span geometry
# uses.
ORACLES["pack_blocks"] = r"""
WITH t AS (
  SELECT doc_id,
         regexp_extract_all(lower(text),
             '''s|''t|''re|''ve|''m|''ll|''d| ?[a-zA-Z]+| ?[0-9]+| ?[^\sa-zA-Z0-9]+') AS toks
  FROM documents
), c AS (
  SELECT doc_id, toks, len(toks)::BIGINT AS tok,
         (sum(len(toks)) OVER (ORDER BY doc_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))::BIGINT AS e
  FROM t WHERE len(toks) > 0
), s AS (
  SELECT b AS block_id, doc_id, toks,
         greatest(e - tok, b * 512) - (e - tok) AS doc_offset,
         greatest(e - tok, b * 512) - b * 512 AS block_offset,
         least(e, (b + 1) * 512) - greatest(e - tok, b * 512) AS slice_len
  FROM c, LATERAL unnest(
    generate_series(((e - tok) // 512)::BIGINT, ((e - 1) // 512)::BIGINT)
  ) AS u(b)
)
SELECT block_id, count(*) AS n_docs, sum(slice_len)::BIGINT AS n_tokens,
       md5(string_agg(
         array_to_string(
           list_slice(toks, doc_offset + 1, doc_offset + slice_len), ''),
         '' ORDER BY block_offset)) AS digest
FROM s GROUP BY block_id
"""

# Range join: the oracle states the inequality join directly (DuckDB's
# IEJoin machinery executes it); Spark uses the bucketed equi-join plan
# in operators/rangejoin.py.
ORACLES["events_range_join"] = """
WITH l AS (
  SELECT user_id, event_id, ts FROM events WHERE event_type = 'purchase'
),
r AS (
  SELECT user_id, ts, value FROM events WHERE event_type = 'click'
)
SELECT l.event_id, l.user_id,
       strftime(l.ts, '%Y-%m-%d %H:%M:%S.%f') AS ts_s,
       COUNT(r.ts) AS n_clicks,
       CAST(SUM(CAST(r.value AS DECIMAL(27,4))) AS DOUBLE) AS clicks_value
FROM l LEFT JOIN r
  ON l.user_id = r.user_id
 AND r.ts >= l.ts - INTERVAL 1 HOUR AND r.ts <= l.ts
GROUP BY l.event_id, l.user_id, l.ts
"""

# Benchmark decontamination: bench = doc_id % 37 slice; per-doc score =
# |shingles ∩ bench shingles| / |shingles|, 6-decimal floor-rounded.
# The Spark side broadcasts the bench set into a fused Arrow UDF; the
# oracle expresses the same membership count with list_intersect
# against the aggregated bench shingle list.
ORACLES["decontamination"] = f"""
WITH ds AS ({_DOCS_SS}),
bl AS (
  SELECT list_distinct(flatten(list(ss))) AS b FROM ds WHERE doc_id % 37 = 0
)
SELECT doc_id,
       FLOOR(len(list_intersect(ss, b)) / len(ss) * 1e6 + 0.5) / 1e6
         AS contamination
FROM ds, bl WHERE len(ss) > 0
"""

# Composite Gopher-style quality verdicts: every ratio is 6-dp
# floor-rounded BEFORE threshold comparison (verdicts bit-stable);
# reasons are list_filter'd CASE labels in the same fixed rule order
# as operators/quality.py; repetition rules pass on NULL (short docs).
_MEANLEN = _R6.format(
    x="CASE WHEN len(toks) > 0 THEN "
    "length(regexp_replace(trim(text), '\\s+', '', 'g')) / len(toks) "
    "ELSE 0.0 END"
)
ORACLES["quality_flags"] = f"""
WITH t AS (SELECT doc_id, text, {_TOKS} AS toks FROM documents),
m AS (
  SELECT doc_id,
    len(toks) AS nt,
    {_MEANLEN} AS ml,
    {_STOPRATIO} AS swr,
    {_PUNCTRATIO} AS pr
  FROM t
),
tk AS (
  SELECT doc_id, tok FROM (SELECT doc_id, unnest(toks) AS tok FROM t)
  WHERE tok <> ''
),
tok_counts AS (SELECT doc_id, tok, COUNT(*) AS c FROM tk GROUP BY 1, 2),
ts AS (
  SELECT doc_id,
         FLOOR(CAST(MAX(c) AS DOUBLE) / SUM(c) * 1e6 + 0.5) / 1e6 AS ttf
  FROM tok_counts GROUP BY doc_id
),
bg AS (
  SELECT doc_id, unnest(
    CASE WHEN len(toks) >= 2 THEN
      list_transform(generate_series(1, len(toks)-1),
                     i -> array_to_string(toks[i:i+1], ' '))
    ELSE []::VARCHAR[] END) AS b
  FROM t
),
bg_counts AS (SELECT doc_id, b, COUNT(*) AS c FROM bg GROUP BY 1, 2),
bs AS (
  SELECT doc_id,
         FLOOR(CAST(MAX(c) AS DOUBLE) / SUM(c) * 1e6 + 0.5) / 1e6 AS tbf
  FROM bg_counts GROUP BY doc_id
),
j AS (
  SELECT m.*, ts.ttf, bs.tbf FROM m
  LEFT JOIN ts USING (doc_id) LEFT JOIN bs USING (doc_id)
),
rl AS (
  SELECT doc_id, list_filter([
    CASE WHEN nt < 30 THEN 'too_few_tokens' END,
    CASE WHEN nt > 90 THEN 'too_many_tokens' END,
    CASE WHEN ml < 3.0 OR ml > 10.0 THEN 'mean_tok_len_out_of_range' END,
    CASE WHEN swr < 0.02 THEN 'low_stopword_ratio' END,
    CASE WHEN pr > 0.1 THEN 'high_punct_ratio' END,
    CASE WHEN ttf > 0.1 THEN 'repeated_top_token' END,
    CASE WHEN tbf > 0.05 THEN 'repeated_top_bigram' END
  ], x -> x IS NOT NULL) AS rs FROM j
)
SELECT doc_id, len(rs) = 0 AS passed,
       COALESCE(array_to_string(rs, ','), '') AS reasons
FROM rl
"""

# Salted join: the oracle is the PLAIN join — salting must never
# change the answer.  MAX keeps the dimension exact (no float-sum
# order dependence); tmax/2 is an exact IEEE halving in both engines.
ORACLES["events_salted_join"] = """
WITH dim AS (SELECT event_type, MAX(value) AS tmax FROM events GROUP BY 1)
SELECT e.event_type, COUNT(*) AS n_events,
       SUM(CASE WHEN e.value > tmax / 2 THEN 1 ELSE 0 END)::BIGINT
         AS n_above_half_max
FROM events e JOIN dim USING (event_type)
GROUP BY e.event_type
"""

# Unigram LM scoring: costs are integer micro-nats
# (floor(ln(total/c)*1e6 + 0.5)) so per-doc sums are exact integer
# arithmetic in both engines; vocab capped at 20 by (count desc, token
# asc) — same deterministic TakeOrdered tie-break as the Spark side.
ORACLES["text_lm_score"] = f"""
WITH tok AS (
  SELECT doc_id, unnest({_TOKS}) AS token FROM documents
),
t2 AS (SELECT doc_id, token FROM tok WHERE token <> ''),
counts AS (SELECT token, COUNT(*) AS c FROM t2 GROUP BY token),
tot AS (SELECT SUM(c) AS total FROM counts),
vocab AS (
  SELECT token, FLOOR(ln(total / c) * 1e6 + 0.5)::BIGINT AS nlp_micro
  FROM counts, tot ORDER BY c DESC, token ASC LIMIT 20
),
oov AS (SELECT FLOOR(ln(total::DOUBLE) * 1e6 + 0.5)::BIGINT AS oov_micro FROM tot),
per AS (
  SELECT doc_id, SUM(COALESCE(nlp_micro, oov_micro)) AS s, COUNT(*) AS n
  FROM t2 LEFT JOIN vocab USING(token) CROSS JOIN oov GROUP BY doc_id
)
SELECT doc_id, n AS n_toks, FLOOR(s / n + 0.5)::BIGINT AS nlp_mean_micro
FROM per
"""

# Mixture resampling: S = min_g(n_g / f_g), rate_g = S*f_g/n_g, keep a
# row iff its md5 bucket (of 1e6) clears floor(rate*1e6 + 0.5) — the
# exact formula in operators/mixture.py with the same double
# arithmetic (fracs cast to DOUBLE; DuckDB's bare 0.5 literals are
# DECIMAL, which would change the rounding).
ORACLES["resample_mixture"] = f"""
WITH fr(source, frac) AS (
  VALUES ('src0', 0.5::DOUBLE), ('src1', 0.3::DOUBLE), ('src2', 0.2::DOUBLE)
),
counts AS (
  SELECT d.source, COUNT(*) AS n, ANY_VALUE(frac) AS frac
  FROM documents d JOIN fr ON d.source = fr.source GROUP BY d.source
),
s AS (SELECT MIN(n / frac) AS scale FROM counts),
rates AS (
  SELECT source, LEAST(1.0::DOUBLE, scale * frac / n) AS rate
  FROM counts, s
)
SELECT doc_id, d.source FROM documents d JOIN rates r ON d.source = r.source
WHERE ({_hv_of("md5(doc_id::VARCHAR)")}) % 1000000
      < FLOOR(rate * 1000000 + 0.5)
"""

# Bloom membership: rebuild the identical 1024-bit/7-hash filter
# relationally (positions = fold32(md5(j || ':' || id)) % 1024, the
# shared engine-portable md5 fold) and probe with a join — the Spark
# side probes a broadcast bit array map-only; the results must agree
# bit-for-bit because the filter is deterministic.
ORACLES["bloom_probe"] = f"""
WITH seeds AS (SELECT unnest(generate_series(0, 6)) AS j),
hist AS (SELECT doc_id FROM documents WHERE doc_id % 5 = 0),
bits AS (
  SELECT DISTINCT
    ({_hv_of("md5(j::VARCHAR || ':' || doc_id::VARCHAR)")}) % 1024 AS pos
  FROM hist CROSS JOIN seeds
),
probe AS (SELECT doc_id FROM documents WHERE doc_id % 5 <> 0),
hits AS (
  SELECT p.doc_id, COUNT(*) AS nhit
  FROM probe p CROSS JOIN seeds s
  JOIN bits b
    ON ({_hv_of("md5(s.j::VARCHAR || ':' || p.doc_id::VARCHAR)")}) % 1024
       = b.pos
  GROUP BY p.doc_id
)
SELECT p.doc_id, COALESCE(h.nhit, 0) = 7 AS maybe_seen
FROM probe p LEFT JOIN hits h USING (doc_id)
"""

# Token-weighted variant: identical algebra with per-group TOKEN mass
# (same BPE pre-tokenizer as text_fingerprint/pack_sequences) replacing
# the row count.
# URL dedup (functions/url.py): EXPECTED-OUTPUT oracle — the query
# builds three known spellings per base id, so the oracle states the
# analytically-correct canonical result instead of replaying the
# canonicalizer (a wrong lowercase/port/param/fragment rule on the
# Spark side breaks the hash).
ORACLES["url_dedup"] = """
WITH x AS (SELECT doc_id, doc_id % 100 AS base FROM documents)
SELECT MIN(doc_id)::BIGINT AS doc_id,
       'http://synth.local/img/' || base::VARCHAR || '.jpg?a=1&b=2'
         AS canonical_url,
       COUNT(*)::BIGINT AS dup_count
FROM x GROUP BY base
"""

# ExactSubstr dedup spans (operators/substring.py): duplicated k-gram
# marking + per-doc gaps-and-islands merge, restated relationally.  Same
# BPE pre-tokenizer regex as pack_sequences; gram key = tokens joined by
# chr(31) (Spark: concat_ws with the unit separator).  lag() is NULL on
# the first mark per doc -> CASE falls to ELSE 1, opening an island,
# same as the Spark when/otherwise.
ORACLES["dedup_substring_spans"] = r"""
WITH t AS (
  SELECT doc_id,
         regexp_extract_all(lower(text),
             '''s|''t|''re|''ve|''m|''ll|''d| ?[a-zA-Z]+| ?[0-9]+| ?[^\sa-zA-Z0-9]+') AS toks
  FROM documents
), idx AS (
  SELECT doc_id, toks, unnest(generate_series(1, len(toks) - 4)) AS i
  FROM t WHERE len(toks) >= 5
), grams AS (
  SELECT doc_id, (i - 1)::BIGINT AS pos,
         array_to_string(toks[i : i + 4], chr(31)) AS gram
  FROM idx
), dup AS (
  SELECT gram FROM grams GROUP BY gram HAVING COUNT(*) >= 2
), m AS (
  SELECT g.doc_id, g.pos FROM grams g JOIN dup USING (gram)
), fl AS (
  SELECT doc_id, pos,
         CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) <= 4
              THEN 0 ELSE 1 END AS new_i
  FROM m
), isl AS (
  SELECT doc_id, pos,
         SUM(new_i) OVER (PARTITION BY doc_id ORDER BY pos
                          ROWS UNBOUNDED PRECEDING) AS island
  FROM fl
)
SELECT doc_id,
       MIN(pos)::BIGINT AS span_start,
       (MAX(pos) + 5)::BIGINT AS span_end,
       (MAX(pos) + 5 - MIN(pos))::BIGINT AS span_tokens
FROM isl GROUP BY doc_id, island
"""

# ExactSubstr curation chain: spans (the dedup_substring_spans closure)
# -> token-level cut (positions NOT covered by any span, rebuilt in
# order) -> per-doc dup_fraction (BPE denominator, 6dp floor-rounded)
# -> exact dedup over the CUT text (same md5-of-normalized fingerprint
# as dedup_exact).  Docs whose every token is cut (or with no tokens)
# rebuild to '' via the LEFT JOIN + COALESCE, matching Spark's
# array_join of an empty kept list.
ORACLES["curation_substr"] = rf"""
WITH spans AS ({ORACLES["dedup_substring_spans"]}),
t AS (
  SELECT doc_id,
         regexp_extract_all(lower(text),
             '''s|''t|''re|''ve|''m|''ll|''d| ?[a-zA-Z]+| ?[0-9]+| ?[^\sa-zA-Z0-9]+') AS toks
  FROM documents
),
pos AS (
  SELECT doc_id, toks, unnest(generate_series(1, len(toks))) AS i
  FROM t WHERE len(toks) > 0
),
kept AS (
  SELECT p.doc_id, p.i, p.toks[p.i] AS tok FROM pos p
  WHERE NOT EXISTS (SELECT 1 FROM spans s
                    WHERE s.doc_id = p.doc_id
                      AND p.i - 1 >= s.span_start AND p.i - 1 < s.span_end)
),
rb AS (
  SELECT t.doc_id,
         ltrim(COALESCE(k.txt, '')) AS text,
         COALESCE(k.n, 0)::BIGINT AS n_tokens,
         (len(t.toks) - COALESCE(k.n, 0))::BIGINT AS n_cut
  FROM t LEFT JOIN (
    SELECT doc_id, string_agg(tok, '' ORDER BY i) AS txt, COUNT(*) AS n
    FROM kept GROUP BY doc_id) k USING (doc_id)
),
prof AS (
  SELECT t.doc_id,
         CASE WHEN len(t.toks) > 0
              THEN {_R6.format(x="COALESCE(sp.dup_tokens, 0)::DOUBLE / len(t.toks)")}
              ELSE 0.0 END AS dup_fraction
  FROM t LEFT JOIN (
    SELECT doc_id, SUM(span_tokens) AS dup_tokens FROM spans GROUP BY doc_id) sp
  USING (doc_id)
),
fp AS (
  SELECT r.doc_id, r.n_tokens, r.n_cut, p.dup_fraction,
         md5(regexp_replace(trim(lower(r.text)), '\s+', ' ', 'g')) AS f
  FROM rb r JOIN prof p USING (doc_id)
),
g AS (
  SELECT f, MIN(doc_id) AS doc_id, COUNT(*)::BIGINT AS dup_count
  FROM fp GROUP BY f
)
SELECT fp.doc_id, fp.n_tokens, fp.n_cut, g.dup_count, fp.dup_fraction
FROM g JOIN fp ON fp.doc_id = g.doc_id
"""

# The production-sizing LSH row shares the pinned twin's SQL verbatim:
# in the 8-bit floor domain (n <= 12,800 at the default occupancy
# target; oracle scales run n = 500) the runtime fixpoint resolves to
# exactly 32 planes / 4 bands, i.e. the identical hyperplane literals.
ORACLES["embedding_dup_pairs_lsh_sized"] = ORACLES["embedding_dup_pairs_lsh"]

# Compaction roundtrip: the oracle sees only the RELATION (content
# aggregates over `documents` + the files_ok literal); the Spark side
# computes the same aggregates from the compacted read-back, so any
# row lost/duplicated/altered by the rewrite, or a file count missing
# the bin-packing target, breaks the match.
ORACLES["compact_roundtrip"] = f"""
SELECT COUNT(*) AS n_rows,
       COUNT(DISTINCT doc_id) AS n_docs,
       CAST(SUM(doc_id) AS BIGINT) AS sum_doc_id,
       CAST(SUM({_hv_of("md5(text)")}) AS BIGINT) AS text_checksum,
       TRUE AS files_ok
FROM documents
"""

ORACLES["resample_mixture_tokens"] = f"""
WITH fr(source, frac) AS (
  VALUES ('src0', 0.5::DOUBLE), ('src1', 0.3::DOUBLE), ('src2', 0.2::DOUBLE)
),
counts AS (
  SELECT d.source,
         SUM(len(regexp_extract_all(lower(text),
             '''s|''t|''re|''ve|''m|''ll|''d| ?[a-zA-Z]+| ?[0-9]+| ?[^\\sa-zA-Z0-9]+')))::DOUBLE AS n,
         ANY_VALUE(frac) AS frac
  FROM documents d JOIN fr ON d.source = fr.source GROUP BY d.source
),
s AS (SELECT MIN(n / frac) AS scale FROM counts),
rates AS (
  SELECT source, LEAST(1.0::DOUBLE, scale * frac / n) AS rate
  FROM counts, s
)
SELECT doc_id, d.source FROM documents d JOIN rates r ON d.source = r.source
WHERE ({_hv_of("md5(doc_id::VARCHAR)")}) % 1000000
      < FLOOR(rate * 1000000 + 0.5)
"""

# PII redaction: the chained regexp_count/regexp_replace CTEs are built
# from functions.redact.PII_PATTERNS itself, so the oracle can never
# drift from the Spark patterns or the (semantic) redaction order.
# DuckDB single-quoted strings keep backslashes literal, so \b/\d pass
# through unchanged; counts run on the progressively-redacted text,
# exactly like redact_expr.
def _redact_sql() -> str:
    from img2dataset_spark.functions.redact import PII_PATTERNS

    sql = """
WITH r0 AS (
  SELECT doc_id,
    CASE WHEN doc_id % 3 = 0 THEN text
    ELSE text || ' contact user' || doc_id || '@example.com ip 10.'
         || (doc_id % 256) || '.0.99 ssn 123-45-6789 tel 555-123-4567'
    END AS text
  FROM documents
)"""
    prev = "r0"
    carried: list[str] = []
    for i, (name, pat, token) in enumerate(PII_PATTERNS, 1):
        keep = ", ".join(carried) + (", " if carried else "")
        sql += f""",
r{i} AS (
  SELECT doc_id, {keep}
    len(regexp_extract_all(text, '{pat}'))::BIGINT AS n_{name},
    regexp_replace(text, '{pat}', '{token}', 'g') AS text
  FROM {prev}
)"""
        carried.append(f"n_{name}")
        prev = f"r{i}"
    names = ", ".join(carried)
    return f"{sql}\nSELECT doc_id, md5(text) AS redacted_md5, {names} FROM {prev}"


ORACLES["redact_pii"] = _redact_sql()

# Gopher-style repetition: mode fraction per (doc, token/bigram).
# Bigrams use DuckDB's INCLUSIVE list slicing: toks[i:i+1] is 2 elements.
ORACLES["text_repetition"] = """
WITH t AS (
  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\\s+') AS toks
  FROM documents
),
tok AS (
  SELECT doc_id, unnest(toks) AS g FROM t
),
tok_counts AS (
  SELECT doc_id, g, COUNT(*) AS c FROM tok WHERE g <> '' GROUP BY doc_id, g
),
tok_stats AS (
  SELECT doc_id, MAX(c) AS top_tok, SUM(c) AS n_tok FROM tok_counts GROUP BY doc_id
),
bg AS (
  SELECT doc_id, unnest(
    CASE WHEN len(toks) >= 2 THEN
      list_transform(generate_series(1, len(toks)-1),
                     i -> array_to_string(toks[i:i+1], ' '))
    ELSE []::VARCHAR[] END) AS g
  FROM t
),
bg_counts AS (
  SELECT doc_id, g, COUNT(*) AS c FROM bg GROUP BY doc_id, g
),
bg_stats AS (
  SELECT doc_id, MAX(c) AS top_bg, SUM(c) AS n_bg FROM bg_counts GROUP BY doc_id
)
SELECT ts.doc_id,
       FLOOR(CAST(ts.top_tok AS DOUBLE) / ts.n_tok * 1e6 + 0.5) / 1e6 AS top_token_frac,
       FLOOR(CAST(bs.top_bg AS DOUBLE) / bs.n_bg * 1e6 + 0.5) / 1e6 AS top_bigram_frac
FROM tok_stats ts LEFT JOIN bg_stats bs ON ts.doc_id = bs.doc_id
"""

# Survivors = all docs minus non-representative members of near-dup
# clusters (composition of the dedup_components closure).
ORACLES["dedup_survivors"] = f"""
WITH RECURSIVE pairs AS ({ORACLES["dedup_minhash_lsh"]}),
edges AS (
  SELECT id_a AS a, id_b AS b FROM pairs
  UNION
  SELECT id_b AS a, id_a AS b FROM pairs
),
reach(a, b) AS (
  SELECT a, b FROM edges
  UNION
  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
),
comp AS (
  SELECT a AS node, LEAST(a, MIN(b)) AS component FROM reach GROUP BY a
)
SELECT doc_id, source FROM documents
WHERE doc_id NOT IN (SELECT node FROM comp WHERE node <> component)
"""

# Full curation pipeline: composes the already-proven fragments
# (near-dup closure, quality verdicts, contamination scores) as scoped
# nested-WITH subqueries, then applies the mixture formula over the
# SURVIVING set (rates must be computed post-filter, exactly as the
# Spark plan does).
ORACLES["curation_e2e"] = f"""
WITH RECURSIVE
pairs AS ({ORACLES["dedup_minhash_lsh"]}),
edges AS (
  SELECT id_a AS a, id_b AS b FROM pairs
  UNION
  SELECT id_b AS a, id_a AS b FROM pairs
),
reach(a, b) AS (
  SELECT a, b FROM edges
  UNION
  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
),
comp AS (SELECT a AS node, LEAST(a, MIN(b)) AS component FROM reach GROUP BY a),
qf AS (SELECT doc_id FROM ({ORACLES["quality_flags"]}) q WHERE q.passed),
cs AS (
  SELECT doc_id FROM ({ORACLES["decontamination"]}) c
  WHERE c.contamination >= 0.9
),
surv AS (
  SELECT d.doc_id, d.source FROM documents d
  WHERE d.doc_id NOT IN (SELECT node FROM comp WHERE node <> component)
    AND d.doc_id IN (SELECT doc_id FROM qf)
    AND d.doc_id NOT IN (SELECT doc_id FROM cs)
),
fr(source, frac) AS (
  VALUES ('src0', 0.4::DOUBLE), ('src1', 0.2::DOUBLE),
         ('src2', 0.2::DOUBLE), ('src3', 0.2::DOUBLE)
),
counts AS (
  SELECT s.source, COUNT(*) AS n, ANY_VALUE(frac) AS frac
  FROM surv s JOIN fr ON s.source = fr.source GROUP BY s.source
),
sc AS (SELECT MIN(n / frac) AS scale FROM counts),
rates AS (
  SELECT source, LEAST(1.0::DOUBLE, scale * frac / n) AS rate
  FROM counts, sc
)
SELECT s.doc_id, s.source FROM surv s JOIN rates r ON s.source = r.source
WHERE ({_hv_of("md5(s.doc_id::VARCHAR)")}) % 1000000
      < FLOOR(rate * 1000000 + 0.5)
"""

# Ingest-side composition: URL-dedup the wave (expected-output style —
# min doc_id per base, analytically-known canonical), Bloom-exclude
# historical ids (same relational 1024-bit/7-hash rebuild as
# bloom_probe), drop wave docs with any verified corpus near-dup (the
# dedup_vs_corpus closure), keep quality passers.
ORACLES["ingest_wave_e2e"] = f"""
WITH pairs AS ({ORACLES["dedup_vs_corpus"]}),
w AS (SELECT doc_id, doc_id % 90 AS base FROM documents WHERE doc_id % 3 = 0),
u AS (
  SELECT MIN(doc_id)::BIGINT AS doc_id,
         'http://synth.local/img/' || base::VARCHAR || '.jpg'
           AS canonical_url
  FROM w GROUP BY base),
seeds AS (SELECT unnest(generate_series(0, 6)) AS j),
hist AS (SELECT doc_id FROM documents WHERE doc_id % 5 = 0),
bits AS (
  SELECT DISTINCT
    ({_hv_of("md5(j::VARCHAR || ':' || doc_id::VARCHAR)")}) % 1024 AS pos
  FROM hist CROSS JOIN seeds),
hits AS (
  SELECT u.doc_id, COUNT(*) AS nhit
  FROM u CROSS JOIN seeds s
  JOIN bits b
    ON ({_hv_of("md5(s.j::VARCHAR || ':' || u.doc_id::VARCHAR)")}) % 1024
       = b.pos
  GROUP BY u.doc_id),
nb AS (
  SELECT u.doc_id, u.canonical_url FROM u
  LEFT JOIN hits h USING (doc_id) WHERE COALESCE(h.nhit, 0) < 7),
nd AS (
  SELECT doc_id, canonical_url FROM nb
  WHERE doc_id NOT IN (SELECT id_a FROM pairs)),
qf AS (SELECT doc_id FROM ({ORACLES["quality_flags"]}) q WHERE q.passed)
SELECT doc_id, canonical_url FROM nd
WHERE doc_id IN (SELECT doc_id FROM qf)
"""

ORACLES["tpch_q6"] = """
SELECT CAST(SUM(CAST(l_extendedprice*l_discount AS DECIMAL(27,4))) AS DOUBLE)
         AS revenue
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01'
  AND l_shipdate < TIMESTAMP '1997-01-01'
  AND l_discount BETWEEN 0.05 AND 0.07
  AND l_quantity < 24
"""

ORACLES["tpch_q5_full"] = """
SELECT n_name,
  CAST(SUM(CAST(l_extendedprice*(1-l_discount) AS DECIMAL(27,4))) AS DOUBLE) AS revenue
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation   ON s_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
GROUP BY n_name
"""

# Ops rollup over the e2e pipeline output (oracle composed from the
# pipeline_e2e closure).
ORACLES["pipeline_route_stats"] = f"""
WITH out AS ({ORACLES["pipeline_e2e"]})
SELECT regexp_extract(url, 'synth\\.local/([a-z]+)/', 1) AS route,
       status, error_message, COUNT(*) AS cnt
FROM out GROUP BY 1, 2, 3
"""

# -- BM25 retrieval ---------------------------------------------------------
# Lucene-flavored BM25 mirrored term by term: dl is the codegen
# token_count (no explode), the explode is pre-filtered to the query
# terms, df_t is a term-partitioned window over the (doc, term) tf
# aggregate, and the per-document sum runs in FIXED-POINT (each term
# score floor-rounded to 6 dp and summed as a BIGINT) so the fold is
# exact and order-independent in both engines.

ORACLES["bm25_topk"] = """
WITH docs AS (
  SELECT doc_id,
    CASE WHEN length(trim(text)) = 0 THEN 0
         ELSE len(regexp_split_to_array(trim(lower(text)), '\\s+')) END AS dl,
    text
  FROM documents),
corpus AS (SELECT COUNT(*) AS n_docs, SUM(dl) AS total_dl FROM docs),
tok AS (
  SELECT doc_id, dl,
         unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS term
  FROM docs),
tf AS (
  SELECT doc_id, dl, term, COUNT(*) AS tf FROM tok
  WHERE term IN ('merge', 'spark', 'window')
  GROUP BY doc_id, dl, term),
tfd AS (SELECT *, COUNT(*) OVER (PARTITION BY term) AS df_t FROM tf),
s AS (
  SELECT doc_id,
    CAST(floor(
      ln(1.0 + (CAST(n_docs AS DOUBLE) - df_t + 0.5) / (df_t + 0.5))
      * CAST(tf AS DOUBLE) * 2.2
      / (CAST(tf AS DOUBLE)
         + 1.2 * (1.0 - 0.75 + 0.75 * CAST(dl AS DOUBLE)
                  / (CAST(total_dl AS DOUBLE) / CAST(n_docs AS DOUBLE))))
      * 1e6 + 0.5) AS BIGINT) AS s6
  FROM tfd, corpus)
SELECT doc_id, COUNT(*) AS n_terms, SUM(s6) / 1e6 AS score
FROM s GROUP BY doc_id
ORDER BY score DESC, doc_id ASC LIMIT 20
"""

# Batch BM25: same tf/df_t/score pipeline, restricted to the union of
# the probe queries' terms, fanned out per query by a term join, top-10
# per query by (score desc, doc_id).  Query set mirrored verbatim from
# queries.q_bm25_multi_topk.
ORACLES["bm25_multi_topk"] = """
WITH q(query_id, term) AS (VALUES
  (0,'spark'), (0,'window'), (0,'merge'),
  (1,'join'), (1,'filter'),
  (2,'vector'), (2,'hash'), (2,'stream')),
docs AS (
  SELECT doc_id,
    CASE WHEN length(trim(text)) = 0 THEN 0
         ELSE len(regexp_split_to_array(trim(lower(text)), '\\s+')) END AS dl,
    text
  FROM documents),
corpus AS (SELECT COUNT(*) AS n_docs, SUM(dl) AS total_dl FROM docs),
tok AS (
  SELECT doc_id, dl,
         unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS term
  FROM docs),
tf AS (
  SELECT doc_id, dl, term, COUNT(*) AS tf FROM tok
  WHERE term IN (SELECT DISTINCT term FROM q)
  GROUP BY doc_id, dl, term),
tfd AS (SELECT *, COUNT(*) OVER (PARTITION BY term) AS df_t FROM tf),
s AS (
  SELECT doc_id, term,
    CAST(floor(
      ln(1.0 + (CAST(n_docs AS DOUBLE) - df_t + 0.5) / (df_t + 0.5))
      * CAST(tf AS DOUBLE) * 2.2
      / (CAST(tf AS DOUBLE)
         + 1.2 * (1.0 - 0.75 + 0.75 * CAST(dl AS DOUBLE)
                  / (CAST(total_dl AS DOUBLE) / CAST(n_docs AS DOUBLE))))
      * 1e6 + 0.5) AS BIGINT) AS s6
  FROM tfd, corpus),
pq AS (
  SELECT q.query_id, s.doc_id, COUNT(*) AS n_terms, SUM(s6) / 1e6 AS score
  FROM s JOIN q ON s.term = q.term
  GROUP BY q.query_id, s.doc_id)
SELECT query_id, doc_id, n_terms, score FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY score DESC, doc_id ASC) AS rn
  FROM pq) WHERE rn <= 10
"""

# -- SemDeDup: k-means clustering + within-cell cosine dedup ----------------
# Reuses the deterministic Lloyd machinery of ann_ivf_fit_topk (same
# seeds/iterations/quantized argmin), then the quantized-cosine pair
# sweep within cells and the min-id survivor rule.

_SD_COS = _R6.format(
    x=f"({_QDOT.format(a='ea.qv', b='eb.qv')})::DOUBLE / "
      f"(sqrt(({_QDOT.format(a='ea.qv', b='ea.qv')})::DOUBLE) * "
      f"sqrt(({_QDOT.format(a='eb.qv', b='eb.qv')})::DOUBLE))"
)

def _semantic_dedup_sql(k: int) -> str:
    """Full SemDeDup twin parametrized by the cell count: md5-seeded
    2-iteration Lloyd as CTEs, quantized-argmin assignment, cell cap,
    within-cell pair sweep, min-id survivors.  k=10 mirrors the
    explicit-num_cells registry row; k=5 mirrors semantic_dedup_sized,
    where the Spark side runs the PRODUCTION num_cells=None path and
    recommended_num_cells(n_vectors=5000) resolves to 5."""
    return f"""
WITH e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v,
                  {_QUANTIZE.format(v='list_transform(embedding, x -> x::DOUBLE)')} AS qv
           FROM embeddings),
seeds AS (SELECT vec_id, v FROM e
          ORDER BY md5(vec_id::VARCHAR), vec_id LIMIT {k}),
c0 AS (SELECT row_number() OVER (ORDER BY md5(vec_id::VARCHAR), vec_id) - 1
         AS cell, v AS centroid FROM seeds),
{_kmeans_iter_sql(1, 'c0')},
{_kmeans_iter_sql(2, 'c1')},
cqf AS (SELECT cell, {_QUANTIZE.format(v='centroid')} AS qc FROM c2),
af AS (SELECT vec_id, cell FROM (
  SELECT q.vec_id, c.cell,
         row_number() OVER (PARTITION BY q.vec_id
                            ORDER BY {_QL2.format(a='q.qv', b='c.qc')},
                                     c.cell) AS rn
  FROM e q, cqf c) WHERE rn = 1),
cap AS (SELECT vec_id, cell FROM af
        WHERE cell IN (SELECT cell FROM af
                       GROUP BY cell HAVING COUNT(*) <= 10000)),
dropped AS (
  SELECT DISTINCT b.vec_id FROM cap a
  JOIN cap b ON a.cell = b.cell AND a.vec_id < b.vec_id
  JOIN e ea ON ea.vec_id = a.vec_id
  JOIN e eb ON eb.vec_id = b.vec_id
  WHERE {_SD_COS} >= 0.3)
SELECT vec_id, cell FROM af
WHERE vec_id NOT IN (SELECT vec_id FROM dropped)
"""


ORACLES["semantic_dedup"] = _semantic_dedup_sql(10)
ORACLES["semantic_dedup_sized"] = _semantic_dedup_sql(5)

# -- Aspect-ratio bucketing over the mock pipeline's dimensions -------------
# Same md5-derived dims as pipeline_e2e (resize_mode='no' keeps every
# fetched row a success); nearest bucket by the log-free stretch metric
# max(w*bh, h*bw)/min(w*bh, h*bw) — one IEEE division of exact integer
# products, tie-break to the smaller bucket id.


def _aspect_bucket_values() -> str:
    from img2dataset_spark.operators.aspect import ASPECT_BUCKETS

    return ", ".join(
        f"({i}, {w}, {h})" for i, (w, h) in enumerate(ASPECT_BUCKETS)
    )


ORACLES["aspect_buckets"] = f"""
WITH base AS ({_PIPE_BASE}),
f AS (
  SELECT doc_id, md5(url) AS m FROM base
  WHERE url NOT LIKE '%/missing/%' AND url NOT LIKE '%/disallowed/%'),
g AS (
  SELECT doc_id,
    64 + (ascii(substr(m,1,1))*256 + ascii(substr(m,2,1))) % 1985 AS ow,
    64 + (ascii(substr(m,3,1))*256 + ascii(substr(m,4,1))) % 1985 AS oh
  FROM f),
bkt(bucket_id, bucket_w, bucket_h) AS (VALUES {_aspect_bucket_values()}),
asg AS (
  SELECT doc_id, bucket_id, bucket_w, bucket_h FROM (
    SELECT g.doc_id, b.bucket_id, b.bucket_w, b.bucket_h,
      row_number() OVER (PARTITION BY g.doc_id ORDER BY
        CAST(greatest(ow*bucket_h, oh*bucket_w) AS DOUBLE)
          / least(ow*bucket_h, oh*bucket_w),
        bucket_id) AS rn
    FROM g, bkt b) WHERE rn = 1)
SELECT bucket_id, bucket_w, bucket_h,
  COUNT(*) AS n_images,
  (COUNT(*) + 31) // 32 AS n_batches,
  CASE WHEN COUNT(*) % 32 = 0 THEN 32 ELSE COUNT(*) % 32 END
    AS last_batch_fill
FROM asg GROUP BY bucket_id, bucket_w, bucket_h
"""

# resize_mode='aspect_bucket' through the pipeline: the SAME bucket
# metric as ORACLES["aspect_buckets"], driving the mock re-encode dims.
# Defined AFTER _aspect_bucket_values (f-string ordering).
ORACLES["pipeline_aspect_resize"] = f"""
WITH base AS ({_PIPE_BASE}),
f AS (
  SELECT doc_id,
    CASE WHEN url LIKE '%/missing/%' THEN '{_404_MSG}'
         WHEN url LIKE '%/disallowed/%' THEN '{_DISALLOWED_MSG}' END AS fetch_error,
    md5(url) AS m
  FROM base),
g AS (
  SELECT *, repeat(m, 8) AS payload,
    64 + (ascii(substr(m,1,1))*256 + ascii(substr(m,2,1))) % 1985 AS ow,
    64 + (ascii(substr(m,3,1))*256 + ascii(substr(m,4,1))) % 1985 AS oh
  FROM f),
h AS (
  SELECT *, CASE WHEN fetch_error IS NOT NULL THEN NULL
    WHEN least(ow, oh) < 200 THEN 'image too small'
    WHEN ow*oh > 2000000 THEN 'image area too large'
    WHEN greatest(ow, oh) / least(ow, oh) > 4.0 THEN 'aspect ratio too large'
    END AS tr_error
  FROM g),
bkt(bucket_id, bucket_w, bucket_h) AS (VALUES {_aspect_bucket_values()}),
asg AS (
  SELECT doc_id, bucket_w, bucket_h FROM (
    SELECT h.doc_id, b.bucket_w, b.bucket_h,
      row_number() OVER (PARTITION BY h.doc_id ORDER BY
        CAST(greatest(ow*bucket_h, oh*bucket_w) AS DOUBLE)
          / least(ow*bucket_h, oh*bucket_w),
        bucket_id) AS rn
    FROM h, bkt b
    WHERE h.fetch_error IS NULL AND h.tr_error IS NULL) WHERE rn = 1)
SELECT h.doc_id,
  CASE WHEN fetch_error IS NOT NULL THEN 'failed_to_download'
       WHEN tr_error IS NOT NULL THEN 'failed_to_resize'
       ELSE 'success' END AS status,
  COALESCE(fetch_error, tr_error) AS error_message,
  a.bucket_w::INTEGER AS width,
  a.bucket_h::INTEGER AS height,
  CASE WHEN fetch_error IS NULL AND tr_error IS NULL THEN ow END::INTEGER
    AS original_width,
  CASE WHEN fetch_error IS NULL AND tr_error IS NULL THEN oh END::INTEGER
    AS original_height,
  CASE WHEN fetch_error IS NULL AND tr_error IS NULL THEN
    CASE WHEN ow = a.bucket_w AND oh = a.bucket_h THEN md5(payload)
         ELSE md5(md5(payload || '|' || a.bucket_w || 'x' || a.bucket_h))
    END END AS payload_md5
FROM h LEFT JOIN asg a ON a.doc_id = h.doc_id
"""

# -- Cross-corpus SemDeDup --------------------------------------------------
# Codebook fit on the CORPUS split only (same Lloyd machinery), both
# sides assigned with the final centroids, per-cell new x corpus cosine
# sweep with the corpus-side cell cap, survivors by NOT IN.

ORACLES["semantic_dedup_vs"] = f"""
WITH allv AS (SELECT vec_id, label,
                list_transform(embedding, x -> x::DOUBLE) AS v,
                {_QUANTIZE.format(v='list_transform(embedding, x -> x::DOUBLE)')} AS qv
              FROM embeddings),
e AS (SELECT vec_id, v, qv FROM allv WHERE vec_id % 3 <> 0),
nv AS (SELECT vec_id, v, qv FROM allv WHERE vec_id % 3 = 0),
seeds AS (SELECT vec_id, v FROM e
          ORDER BY md5(vec_id::VARCHAR), vec_id LIMIT 10),
c0 AS (SELECT row_number() OVER (ORDER BY md5(vec_id::VARCHAR), vec_id) - 1
         AS cell, v AS centroid FROM seeds),
{_kmeans_iter_sql(1, 'c0')},
{_kmeans_iter_sql(2, 'c1')},
cqf AS (SELECT cell, {_QUANTIZE.format(v='centroid')} AS qc FROM c2),
ac AS (SELECT vec_id, cell FROM (
  SELECT q.vec_id, c.cell,
         row_number() OVER (PARTITION BY q.vec_id
                            ORDER BY {_QL2.format(a='q.qv', b='c.qc')},
                                     c.cell) AS rn
  FROM e q, cqf c) WHERE rn = 1),
an AS (SELECT vec_id, cell FROM (
  SELECT q.vec_id, c.cell,
         row_number() OVER (PARTITION BY q.vec_id
                            ORDER BY {_QL2.format(a='q.qv', b='c.qc')},
                                     c.cell) AS rn
  FROM nv q, cqf c) WHERE rn = 1),
okcell AS (SELECT cell FROM ac GROUP BY cell HAVING COUNT(*) <= 10000),
dropped AS (
  SELECT DISTINCT n.vec_id FROM an n
  JOIN ac c ON n.cell = c.cell
  JOIN okcell o ON o.cell = n.cell
  JOIN allv ea ON ea.vec_id = n.vec_id
  JOIN allv eb ON eb.vec_id = c.vec_id
  WHERE {_SD_COS} >= 0.3)
SELECT vec_id, label FROM embeddings
WHERE vec_id % 3 = 0 AND vec_id NOT IN (SELECT vec_id FROM dropped)
"""

# -- Perceptual image dedup (expected-output oracle) ------------------------
# The Spark side PNG-encodes deterministic synthetic scenes on
# executors, decodes them back through the pure-Python codecs, pHashes,
# and runs the pigeonhole-banded Hamming join.  The oracle is the SAME
# recipe computed locally over raw arrays (no PNG roundtrip, no Spark,
# brute-force pairing) — an independent single-process computation in
# the url_dedup expected-output style: agreement certifies that the
# distributed encode -> decode -> DCT hash -> banded join is lossless
# and recall-complete (pigeonhole guarantees banding finds every
# hamming<=4 pair brute force finds).  Fixed id range 0..199, so one
# static VALUES literal holds at every sf.


def _phash_expected_values() -> str:
    from img2dataset_spark.functions.phash import (
        hamming64,
        phash64,
        synth_payload_image,
    )

    hs = {i: phash64(synth_payload_image(i)) for i in range(200)}
    rows = []
    for a in range(200):
        for b in range(a + 1, 200):
            hd = hamming64(hs[a], hs[b])
            if hd <= 4:
                rows.append(f"({a}, {b}, {hd})")
    assert rows, "synthetic scenes no longer produce near-dup pairs"
    return ", ".join(rows)


ORACLES["phash_dedup"] = f"""
SELECT CAST(id_a AS BIGINT) AS id_a, CAST(id_b AS BIGINT) AS id_b,
       CAST(hamming AS INTEGER) AS hamming
FROM (VALUES {_phash_expected_values()}) AS t(id_a, id_b, hamming)
"""


def _dedup_phash_expected_values() -> str:
    """Expected SURVIVORS of dedup_phash over the synthetic scenes:
    brute-force hamming<=4 pairs, union-find to min-id components, keep
    ids that are their own representative.  Independent of the Spark
    plan (no banding, no CC label propagation, no anti-join) — the same
    recipe, single-process."""
    from img2dataset_spark.functions.phash import (
        hamming64,
        phash64,
        synth_payload_image,
    )

    hs = {i: phash64(synth_payload_image(i)) for i in range(200)}
    parent = {i: i for i in range(200)}

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a in range(200):
        for b in range(a + 1, 200):
            if hamming64(hs[a], hs[b]) <= 4:
                ra, rb = find(a), find(b)
                if ra != rb:
                    parent[max(ra, rb)] = min(ra, rb)
    survivors = [i for i in range(200) if find(i) == i]
    assert len(survivors) < 200, "scenes no longer produce any dropouts"
    return ", ".join(f"({i}, {hs[i]})" for i in survivors)


ORACLES["dedup_phash"] = f"""
SELECT CAST(doc_id AS BIGINT) AS doc_id, CAST(phash AS BIGINT) AS phash
FROM (VALUES {_dedup_phash_expected_values()}) AS t(doc_id, phash)
"""
