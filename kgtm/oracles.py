"""DuckDB oracle SQL for the driver's correctness gate.

Each constant here is the ANSI-SQL twin of a Spark stage in kgtm.*; the
fragments compose the same way the DataFrame stages do. The planted-mention
text template and the inline dictionary/snapshot VALUES come from
kgtm.transcripts so both sides share one source of truth.
"""

from __future__ import annotations

from kgtm.transcripts import (
    DUCKDB_TRANSCRIPTS_CTE,
    duckdb_index_values,
    duckdb_snapshots_values,
)

IRI_SQL_REGEX = r"(https?://[A-Za-z0-9.\-]+(?:/[A-Za-z0-9./#_\-]*)?)"

# mention extraction + parse + ladder candidates + min-rung link, as CTEs.
# Ladder twin of kgtm/normalize.py:ladder_candidates (rungs 0-5; later rungs
# derive from the rstripped path, mirroring proxy_logic.py:108-141).
def mention_link_ctes(index_values_sql: str) -> str:
    """The mention→link CTE chain over an arbitrary dictionary VALUES table
    (the default MENTION_LINK_CTES binds the canonical inline dictionary;
    q_incremental_relink rebinds a mutated one)."""
    return f"""
  ontology_index_dict AS (
    SELECT * FROM {index_values_sql}
  ),
  mentions AS (
    -- ALL IRIs per turn (regexp_extract_all + unnest), matching the engine's
    -- posexplode(regexp_extract_all(...)) — a first-IRI-only oracle would be
    -- weaker than the engine on multi-IRI turns.
    SELECT conv_id, turn_idx,
           unnest(regexp_extract_all(text, '{IRI_SQL_REGEX}', 1)) AS surface
    FROM transcripts
  ),
  parsed AS (
    SELECT conv_id, turn_idx, surface,
           regexp_extract(surface, '^https?://([^/]*)', 1) AS host,
           regexp_replace(regexp_replace(surface, '^https?://', ''), '^[^/]*', '') AS path
    FROM mentions WHERE surface != ''
  ),
  norm AS (
    SELECT *, string_split(stripped, '/') AS parts
    FROM (
      SELECT *, CASE WHEN path LIKE '%/' THEN rtrim(path, '/') ELSE path END AS stripped
      FROM parsed
    )
  ),
  cands AS (
              SELECT *, 0 AS rung, path AS cand FROM norm
    UNION ALL SELECT *, 1, stripped FROM norm
    UNION ALL SELECT *, 2, array_to_string(parts[1:greatest(len(parts)-1,0)], '/') FROM norm
    UNION ALL SELECT *, 3, array_to_string(parts[1:greatest(len(parts)-1,0)], '/') || '/' FROM norm
    UNION ALL SELECT *, 4, array_to_string(parts[1:greatest(len(parts)-2,0)], '/') FROM norm
    UNION ALL SELECT *, 5, array_to_string(parts[1:greatest(len(parts)-2,0)], '/') || '/' FROM norm
  ),
  best AS (
    SELECT c.conv_id, c.turn_idx, c.surface,
           min(c.rung) AS rung,
           arg_min(d.ontology_iri, c.rung) AS ontology_iri,
           arg_min(c.cand, c.rung) AS canonical_path
    FROM cands c JOIN ontology_index_dict d
      ON c.host = d.host AND c.cand = d.path
    GROUP BY 1, 2, 3
  ),
  links AS (
    SELECT p.conv_id, p.turn_idx, p.surface,
           b.rung IS NOT NULL AS is_linked,
           b.rung, b.ontology_iri, b.canonical_path
    FROM parsed p LEFT JOIN best b
      ON p.conv_id = b.conv_id AND p.turn_idx = b.turn_idx AND p.surface = b.surface
  )
"""


MENTION_LINK_CTES = mention_link_ctes(duckdb_index_values())

LATEST_CTE = f"""
  latest AS (
    SELECT ontology_iri,
           max(version_ts) AS version_ts,
           arg_max(snapshot_iri, version_ts) AS snapshot_iri,
           arg_max(file_url, version_ts) AS file_url
    FROM {duckdb_snapshots_values()}
    GROUP BY ontology_iri
  )
"""


def q_turn_assembly() -> str:
    return f"""
      WITH {DUCKDB_TRANSCRIPTS_CTE}
      SELECT conv_id, count(*) AS n_turns,
             string_agg(text, chr(10) ORDER BY turn_idx) AS conv_text
      FROM transcripts GROUP BY conv_id
    """


def q_mention_hosts() -> str:
    return f"""
      WITH {DUCKDB_TRANSCRIPTS_CTE}, {MENTION_LINK_CTES}
      SELECT host, count(*) AS n_mentions
      FROM parsed GROUP BY host
    """


def q_ladder_linking() -> str:
    return f"""
      WITH {DUCKDB_TRANSCRIPTS_CTE}, {MENTION_LINK_CTES}
      SELECT is_linked, rung, ontology_iri, canonical_path,
             count(*) AS n_mentions
      FROM links GROUP BY 1, 2, 3, 4
    """


def q_version_latest() -> str:
    return f"""
      WITH {LATEST_CTE}
      SELECT ontology_iri, version_ts, snapshot_iri, file_url FROM latest
    """


def q_version_asof(pin: str = "2024-07-01 00:00:00") -> str:
    return f"""
      SELECT ontology_iri,
             max(version_ts) AS version_ts,
             arg_max(snapshot_iri, version_ts) AS snapshot_iri,
             arg_max(file_url, version_ts) AS file_url
      FROM {duckdb_snapshots_values()}
      WHERE version_ts <= TIMESTAMP '{pin}'
      GROUP BY ontology_iri
    """


def q_resolution_outcomes() -> str:
    return f"""
      WITH {DUCKDB_TRANSCRIPTS_CTE}, {MENTION_LINK_CTES}, {LATEST_CTE}
      SELECT CASE WHEN NOT l.is_linked THEN 'unlinked'
                  WHEN t.snapshot_iri IS NULL THEN 'not-found'
                  ELSE 'archivo-latest' END AS source,
             l.ontology_iri, t.snapshot_iri,
             count(*) AS n_mentions
      FROM links l LEFT JOIN latest t USING (ontology_iri)
      GROUP BY 1, 2, 3
    """


def q_flagship_triples() -> str:
    # SVO twin: on the planted template the extractor yields exactly
    # ('agent', 'uses', <iri>) per turn; the oracle re-derives it by regex.
    return f"""
      WITH {DUCKDB_TRANSCRIPTS_CTE}, {MENTION_LINK_CTES}, {LATEST_CTE}
      SELECT l.conv_id,
             'agent' AS subj,
             'uses' AS pred,
             coalesce(l.ontology_iri, l.surface) AS obj,
             CAST(NULL AS VARCHAR) AS subj_snapshot_iri,
             CASE WHEN l.is_linked THEN t.snapshot_iri END AS obj_snapshot_iri,
             CASE WHEN l.is_linked THEN 'archivo-latest' ELSE 'unlinked' END AS source
      FROM links l LEFT JOIN latest t USING (ontology_iri)
    """


# Accept negotiation: golden expected pairs (oracle = expected-output VALUES).
# Sources: /root/reference/tests/test_utils.py:16-98 plus tie/precedence edge
# cases derived from utils.py:103-121 semantics.
ACCEPT_CASES: list[tuple[str, str | None]] = [
    ("application/rdf+xml,text/turtle;q=0.9,*/*;q=0.8", "owl"),
    ("application/json", None),
    ("text/turtle", "ttl"),
    ("application/n-triples;q=0.5,text/turtle;q=0.5", "nt"),
    ("text/html", None),
    ("text/html;q=1.0,text/turtle;q=0.9", None),
    ("*/*", None),
    ("application/owl+xml;q=0.3,application/json", None),
    ("text/turtle;q=0.2,application/n-triples;q=0.9", "nt"),
    ("application/rdf+xml;q=0.9,application/owl+xml;q=0.9,text/plain", None),
    ("text/turtle , application/n-triples;q=1.0", "ttl"),
    ("application/owl+xml", "owl"),
    ("text/n3;q=0.8,text/turtle;q=0.7,application/rdf+xml;q=0.6", None),
]


def q_accept_negotiation() -> str:
    rows = ",\n      ".join(
        "('{}', {})".format(
            h.replace("'", "''"), "NULL" if f is None else f"'{f}'"
        )
        for h, f in ACCEPT_CASES
    )
    return f"""
      SELECT accept_header, CAST(expected_format AS VARCHAR) AS format
      FROM (VALUES
      {rows}) AS t(accept_header, expected_format)
    """


# ===========================================================================
# Training-data ops oracles (documents / embeddings tables)
# ===========================================================================

PUNCT_SQL_CLASS = "[.,;:!?''" + '\\"' + "()\\[\\]{}-]"  # SQL-escaped: '' = literal quote
STOPWORDS_SQL = "('the','a','an','of','and','to','in','is','for','on')"

WORDS_CTE = r"""
  words AS (
    SELECT doc_id AS id, text,
           string_split_regex(trim(lower(text)), '\s+') AS w
    FROM documents
  )
"""

SHINGLES_CTE = r"""
  sh AS (
    SELECT id, list_distinct(
             list_transform(generate_series(1, greatest(len(w)-2, 0)),
                            i -> array_to_string(w[i:i+2], ' '))) AS s
    FROM words
  ),
  flat AS (SELECT id, len(s) AS n_sh, unnest(s) AS shingle FROM sh)
"""


def q_dedup_exact() -> str:
    return """
      SELECT md5(text) AS digest, min(doc_id) AS keep_doc_id,
             count(*) AS n_dupes
      FROM documents GROUP BY 1
    """


def q_ngram_jaccard(threshold: float = 0.2) -> str:
    return f"""
      WITH {WORDS_CTE}, {SHINGLES_CTE},
      inter AS (
        SELECT a.id AS id_a, b.id AS id_b, a.n_sh AS n_a, b.n_sh AS n_b,
               count(*) AS ni
        FROM flat a JOIN flat b USING (shingle)
        WHERE a.id < b.id
        GROUP BY 1, 2, 3, 4)
      SELECT id_a, id_b, round(ni * 1.0 / (n_a + n_b - ni), 6) AS jaccard
      FROM inter WHERE ni * 1.0 / (n_a + n_b - ni) >= {threshold}
    """


_MOD64_SQL = "18446744073709551616"  # 2^64


def _sql_mul64(z: str, c: int) -> str:
    """(z * c) mod 2^64 in HUGEINT WITHOUT overflowing the signed 128-bit
    range: z < 2^64 times c ~ 2^64 would hit 2^128, so split z into 32-bit
    halves — z_lo*c < 2^96 and (z_hi*c mod 2^32) << 32 < 2^64, both safe."""
    return (
        f"((({z}) % 4294967296) * {c}::HUGEINT % {_MOD64_SQL}"
        f" + ((({z}) // 4294967296) * {c}::HUGEINT % 4294967296) * 4294967296)"
        f" % {_MOD64_SQL}"
    )


def hash64_sql_ctes(src: str, cols: str, col: str = "shingle") -> str:
    """CTE chain computing kgtm.dedup._hash_shingles64 / hash64_py in pure
    DuckDB HUGEINT arithmetic: the codepoint polynomial fold
    h = h*P + unicode(c)+1 (list_reduce over the split characters), then
    the splitmix64 finalizer with each multiply expanded via _sql_mul64.
    ``cols`` are passthrough columns; the final CTE `hashed` exposes them
    plus `hv` (UBIGINT). Constants are imported from kgtm.dedup so the twin
    can never drift from the impl."""
    from kgtm.dedup import _POLY_P, _SM64_C1, _SM64_C2

    poly = (
        "list_reduce(list_prepend(0::HUGEINT, "
        f"list_transform(string_split({col}, ''), "
        "c -> unicode(c)::HUGEINT + 1)), "
        f"(a, x) -> (a * {_POLY_P} + x) % {_MOD64_SQL})"
    )
    return f"""
      hs0 AS (SELECT {cols}, {poly} AS z FROM {src}),
      hs1 AS (SELECT {cols}, xor(z, z >> 30) AS z FROM hs0),
      hs2 AS (SELECT {cols}, {_sql_mul64("z", _SM64_C1)} AS z FROM hs1),
      hs3 AS (SELECT {cols}, xor(z, z >> 27) AS z FROM hs2),
      hs4 AS (SELECT {cols}, {_sql_mul64("z", _SM64_C2)} AS z FROM hs3),
      hashed AS (SELECT {cols}, CAST(xor(z, z >> 31) AS UBIGINT) AS hv
                 FROM hs4)"""


def q_simhash_exhaustive(max_hamming: int = 16) -> str:
    """Value-checked twin of kgtm.dedup.simhash_pairs — possible because the
    shingle hasher (round 6: codepoint polynomial + splitmix64, vectorized
    numpy) is reproduced exactly in HUGEINT SQL by hash64_sql_ctes; crc32
    (the MinHash family) has no ANSI-SQL twin.

    This is the ALL-PAIRS form: per-bit majority simhash (bit i set iff
    2 * count(shingles with bit i) >= n_shingles — simhash_series' rule),
    two's-complement to signed int64, then brute-force Hamming <=
    max_hamming. The Spark side runs its production Hamming-chunk BANDING,
    which is pigeonhole-lossless, so banded output must equal this exactly —
    certifying the banding machinery, not a degenerate mode of it.
    """
    bit_sums = ",\n               ".join(
        f"sum(CAST((hv >> {i}) & 1 AS HUGEINT)) AS b{i}" for i in range(64)
    )
    val = "\n             + ".join(
        f"CASE WHEN 2*b{i} >= n_sh THEN (1::HUGEINT << {i}) ELSE 0::HUGEINT END"
        for i in range(64)
    )
    return f"""
      WITH {WORDS_CTE}, {SHINGLES_CTE},
      {hash64_sql_ctes("flat", "id, n_sh")},
      h AS (SELECT id, n_sh, hv FROM hashed),
      bits AS (
        SELECT id, n_sh,
               {bit_sums}
        FROM h GROUP BY id, n_sh),
      u AS (SELECT id, ({val}) AS uv FROM bits),
      s AS (
        SELECT id,
               CAST(uv - CASE WHEN uv >= (1::HUGEINT << 63)
                              THEN (1::HUGEINT << 64) ELSE 0::HUGEINT END
                    AS BIGINT) AS sim
        FROM u)
      SELECT a.id AS id_a, b.id AS id_b,
             bit_count(xor(a.sim, b.sim))::BIGINT AS hamming
      FROM s a JOIN s b ON a.id < b.id
      WHERE bit_count(xor(a.sim, b.sim)) <= {max_hamming}
    """


def q_minhash_lsh(
    threshold: float = 0.2,
    n_hashes: int = 128,
    n_bands: int = 16,
    seed: int = 42,
) -> str:
    """Value-checked twin of kgtm.dedup.minhash_lsh_pairs (estimate mode) —
    possible since round 6's hash migration: the signature family
    h_i(x) = mix64(x + (i+1+seed)*GOLDEN) >> 1 over the 64-bit shingle
    hash is pure integer arithmetic, replayed here per (shingle, i) with
    the same HUGEINT split-multiply mix chain as hash64_sql_ctes.

    One deliberate twin simplification: the impl buckets candidates by
    xxhash64(signature slice); this twin joins on the slice VALUES directly.
    The two differ only if xxhash64 collides on two distinct 8-long int64
    slices within the corpus (~2^-64 per pair) — and even then the extra
    candidate must also pass the est_jaccard threshold to change output.
    """
    from kgtm.dedup import _GOLDEN64, _SM64_C1, _SM64_C2

    rpb = n_hashes // n_bands
    return f"""
      WITH {WORDS_CTE}, {SHINGLES_CTE},
      {hash64_sql_ctes("flat", "id")},
      hd AS (SELECT DISTINCT hv FROM hashed),
      mh0 AS (SELECT hv, i,
                     (hv::HUGEINT + ((i::HUGEINT + {1 + seed}) * {_GOLDEN64})
                      % {_MOD64_SQL}) % {_MOD64_SQL} AS z
              FROM hd, range(0, {n_hashes}) t(i)),
      mh1 AS (SELECT hv, i, xor(z, z >> 30) AS z FROM mh0),
      mh2 AS (SELECT hv, i, {_sql_mul64("z", _SM64_C1)} AS z FROM mh1),
      mh3 AS (SELECT hv, i, xor(z, z >> 27) AS z FROM mh2),
      mh4 AS (SELECT hv, i, {_sql_mul64("z", _SM64_C2)} AS z FROM mh3),
      -- the expensive HUGEINT mix runs once per DISTINCT shingle (the SQL
      -- analog of the impl's pd.factorize); the per-(id, i) min joins back
      -- on the cheap 64-bit key
      mixed AS (SELECT hv, i, xor(z, z >> 31) >> 1 AS zz FROM mh4),
      sigs AS (SELECT h.id, m.i, CAST(min(m.zz) AS BIGINT) AS s
               FROM hashed h JOIN mixed m USING (hv) GROUP BY h.id, m.i),
      sigl AS (SELECT id, list(s ORDER BY i) AS sig FROM sigs GROUP BY id),
      bands AS (SELECT id, bnd,
                       sig[bnd*{rpb}+1 : (bnd+1)*{rpb}] AS bkey
                FROM sigl, range(0, {n_bands}) t(bnd)),
      cand AS (SELECT DISTINCT x.id AS id_a, y.id AS id_b
               FROM bands x JOIN bands y ON x.bnd = y.bnd AND x.bkey = y.bkey
               WHERE x.id < y.id),
      est AS (SELECT id_a, id_b,
                     len(list_filter(generate_series(1, {n_hashes}),
                                     i -> sa.sig[i] = sb.sig[i]))
                       * 1.0 / {n_hashes} AS est_jaccard
              FROM cand
              JOIN sigl sa ON sa.id = cand.id_a
              JOIN sigl sb ON sb.id = cand.id_b)
      SELECT id_a, id_b, round(est_jaccard, 6) AS est_jaccard
      FROM est WHERE est_jaccard >= {threshold}
    """


def q_contamination(n: int = 5, threshold: float = 0.5) -> str:
    """Twin of kgtm.dedup.contamination_pairs over the synthetic benchmark
    (every 20th document's first 120 characters): containment =
    |shingles(doc) ∩ shingles(bench)| / |shingles(bench)| over word n-grams,
    kept when >= threshold."""
    m = n - 1
    sh = (
        "list_distinct(list_transform("
        f"generate_series(1, greatest(len(w)-{m}, 0)), "
        f"i -> array_to_string(w[i:i+{m}], ' ')))"
    )
    return rf"""
      WITH d AS (
        SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS w
        FROM documents),
      b AS (
        SELECT doc_id AS bench_id,
               string_split_regex(trim(lower(substr(text, 1, 120))), '\s+') AS w
        FROM documents WHERE doc_id % 20 = 0),
      dsh AS (SELECT doc_id, unnest({sh}) AS shingle FROM d),
      bl AS (SELECT bench_id, {sh} AS s FROM b),
      bsh AS (SELECT bench_id, len(s) AS n_b, unnest(s) AS shingle FROM bl),
      inter AS (
        SELECT dsh.doc_id, bsh.bench_id, any_value(bsh.n_b) AS n_b,
               count(*) AS ni
        FROM dsh JOIN bsh USING (shingle)
        GROUP BY dsh.doc_id, bsh.bench_id)
      SELECT doc_id, bench_id, round(ni * 1.0 / n_b, 6) AS containment
      FROM inter WHERE ni * 1.0 / n_b >= {threshold}
    """


def q_winnow_fingerprints(k: int = 5, window: int = 4) -> str:
    """Value-checked twin of textstats.winnow_fingerprint_udf (Schleimer
    et al. winnowing): per-position polynomial k-gram hash (base 257 over
    lowercased bytes — byte values never overflow int64 for k=5, so the
    UDF's mod-2^64 arithmetic is exactly reproduced), sliding-window min
    over `window` consecutive hashes (global min when fewer than `window`
    k-grams exist), DISTINCT mins mixed by the 64-bit golden-ratio constant
    mod 2^64 and bit_xor-folded, two's-complement to signed int64; texts
    shorter than k fingerprint to 0.

    ASCII assumption: DuckDB's ord() yields code points while the UDF hashes
    UTF-8 BYTES — identical only for ASCII text, which the synthetic
    documents corpus is (asserted at build time); a non-ASCII corpus would
    need a BLOB-level byte extraction here.
    """
    mix = 0x9E3779B97F4A7C15
    m64 = 1 << 64
    powers = [257 ** (k - 1 - j) for j in range(k)]
    gram = " + ".join(
        f"ord(substr(t, pos+{j}, 1))::HUGEINT * {powers[j]}" for j in range(k)
    )
    return f"""
      WITH docs AS (SELECT doc_id, lower(text) AS t FROM documents),
      pos_ AS (
        SELECT doc_id, t, unnest(range(1, length(t) - {k} + 2)) AS pos
        FROM docs WHERE length(t) >= {k}),
      kh AS (SELECT doc_id, pos, ({gram}) AS h FROM pos_),
      stats AS (SELECT doc_id, count(*) AS n_h FROM kh GROUP BY doc_id),
      wmin AS (
        SELECT doc_id, pos,
               min(h) OVER (PARTITION BY doc_id ORDER BY pos
                            ROWS BETWEEN CURRENT ROW AND {window - 1} FOLLOWING) AS mn,
               count(*) OVER (PARTITION BY doc_id ORDER BY pos
                              ROWS BETWEEN CURRENT ROW AND {window - 1} FOLLOWING) AS wsz
        FROM kh),
      mins AS (
        SELECT DISTINCT w.doc_id, w.mn FROM wmin w JOIN stats s USING (doc_id)
        WHERE w.wsz = {window} AND s.n_h > {window}
        UNION
        SELECT k2.doc_id, min(k2.h) FROM kh k2 JOIN stats s USING (doc_id)
        WHERE s.n_h <= {window} GROUP BY k2.doc_id),
      folded AS (
        SELECT doc_id,
               bit_xor(CAST((mn::HUGEINT * {mix}::HUGEINT) % {m64}::HUGEINT AS UBIGINT)) AS u
        FROM mins GROUP BY doc_id)
      SELECT d.doc_id,
             coalesce(CAST(CASE WHEN u >= (1::HUGEINT << 63)
                                THEN u::HUGEINT - (1::HUGEINT << 64)
                                ELSE u::HUGEINT END AS BIGINT), 0) AS winnow_fp
      FROM docs d LEFT JOIN folded USING (doc_id)
    """


def q_winnow_positions(k: int = 5, window: int = 4) -> str:
    """Value-checked twin of textstats.winnow_positions (POSITIONAL robust
    winnowing, Schleimer et al. §4): per-window rightmost minimum pick over
    the same base-257 polynomial k-gram hashes as q_winnow_fingerprints,
    deduped across windows; texts with <= window k-grams fall back to the
    rightmost global argmin (one pick). Output (doc_id, pos, fp) with pos a
    0-BASED k-gram byte offset (the SQL kh positions are 1-based substr
    offsets, hence the -1) and fp the raw hash — for k=5 the polynomial
    maxes out near 255*257^4 << 2^63, so the UDF's uint64 arithmetic never
    wraps and a plain BIGINT cast reproduces it exactly. Same ASCII
    assumption as q_winnow_fingerprints (asserted at corpus build).
    """
    powers = [257 ** (k - 1 - j) for j in range(k)]
    gram = " + ".join(
        f"ord(substr(t, pos+{j}, 1))::HUGEINT * {powers[j]}" for j in range(k)
    )
    return f"""
      WITH docs AS (SELECT doc_id, lower(text) AS t FROM documents),
      pos_ AS (
        SELECT doc_id, t, unnest(range(1, length(t) - {k} + 2)) AS pos
        FROM docs WHERE length(t) >= {k}),
      kh AS (SELECT doc_id, pos, ({gram}) AS h FROM pos_),
      stats AS (SELECT doc_id, count(*) AS n_h FROM kh GROUP BY doc_id),
      wstart AS (
        SELECT doc_id, pos AS start,
               min(h) OVER (PARTITION BY doc_id ORDER BY pos
                            ROWS BETWEEN CURRENT ROW AND {window - 1} FOLLOWING) AS mn,
               count(*) OVER (PARTITION BY doc_id ORDER BY pos
                              ROWS BETWEEN CURRENT ROW AND {window - 1} FOLLOWING) AS wsz
        FROM kh),
      sel AS (
        SELECT w.doc_id, max(k2.pos) AS sel_pos, w.mn AS h
        FROM wstart w
        JOIN kh k2 ON k2.doc_id = w.doc_id
                  AND k2.pos BETWEEN w.start AND w.start + {window - 1}
                  AND k2.h = w.mn
        JOIN stats s ON s.doc_id = w.doc_id
        WHERE w.wsz = {window} AND s.n_h > {window}
        GROUP BY w.doc_id, w.start, w.mn
        UNION
        SELECT k2.doc_id, max(k2.pos), min(k2.h)
        FROM kh k2 JOIN stats s USING (doc_id)
        WHERE s.n_h <= {window}
          AND k2.h = (SELECT min(h) FROM kh m WHERE m.doc_id = k2.doc_id)
        GROUP BY k2.doc_id)
      SELECT DISTINCT doc_id, CAST(sel_pos - 1 AS INT) AS pos,
             CAST(h AS BIGINT) AS fp
      FROM sel
    """


def q_quality_stats() -> str:
    # Twin of kgtm.textstats.quality_features + lang_id_col + fingerprint_col.
    # NOTE regexp_replace needs the 'g' flag in DuckDB (Spark replaces all).
    hits = {
        lang: f"len(list_filter(w, x -> x IN ({', '.join(repr(m) for m in ms)})))"
        for lang, ms in {
            "de": ["der", "die", "das", "und", "ist"],
            "en": ["the", "and", "of", "is", "for"],
            "es": ["el", "la", "de", "que", "los"],
            "fr": ["le", "la", "et", "les", "des"],
        }.items()
    }
    return f"""
      WITH {WORDS_CTE},
      feat AS (
        SELECT id AS doc_id,
               length(text) AS n_chars_m,
               CASE WHEN trim(text) = '' THEN 0 ELSE len(w) END AS n_tokens,
               length(text) - length(regexp_replace(text, '{PUNCT_SQL_CLASS}', '', 'g')) AS n_punct,
               len(list_filter(w, x -> x IN {STOPWORDS_SQL})) AS n_stop,
               {hits['de']} AS h_de, {hits['en']} AS h_en,
               {hits['es']} AS h_es, {hits['fr']} AS h_fr,
               substr(md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')), 1, 16) AS fingerprint
        FROM words
      )
      SELECT doc_id, n_chars_m, n_tokens,
             round(CASE WHEN n_chars_m > 0 THEN n_punct * 1.0 / n_chars_m ELSE 0 END, 6) AS punct_ratio,
             round(CASE WHEN n_tokens > 0 THEN n_stop * 1.0 / n_tokens ELSE 0 END, 6) AS stopword_ratio,
             round(least(n_tokens / 100.0, 1.0) * 0.5
                 + least(CASE WHEN n_tokens > 0 THEN n_stop * 1.0 / n_tokens ELSE 0 END * 5.0, 1.0) * 0.3
                 + (1.0 - least(CASE WHEN n_chars_m > 0 THEN n_punct * 1.0 / n_chars_m ELSE 0 END * 10.0, 1.0)) * 0.2,
               6) AS quality_score,
             CASE WHEN h_de >= h_en AND h_de >= h_es AND h_de >= h_fr AND h_de > 0 THEN 'de'
                  WHEN h_en >= h_es AND h_en >= h_fr AND h_en > 0 THEN 'en'
                  WHEN h_es >= h_fr AND h_es > 0 THEN 'es'
                  WHEN h_fr > 0 THEN 'fr'
                  ELSE 'und' END AS lang,
             fingerprint
      FROM feat
    """


def q_token_counts() -> str:
    return r"""
      SELECT doc_id,
             CASE WHEN trim(text) = '' THEN 0
                  ELSE len(string_split_regex(trim(lower(text)), '\s+')) END::BIGINT AS n_ws_tokens,
             len(regexp_extract_all(text, '([A-Za-z]+|[0-9]+|[^A-Za-z0-9\s])'))::BIGINT AS n_bpe_tokens
      FROM documents
    """


def q_ann_topk(n_queries: int = 5, k: int = 10) -> str:
    return f"""
      WITH q AS (SELECT vec_id AS query_id, embedding FROM embeddings WHERE vec_id < {n_queries}),
      scored AS (
        SELECT q.query_id, c.vec_id AS neighbor_id,
               list_cosine_similarity(q.embedding::DOUBLE[], c.embedding::DOUBLE[]) AS cos
        FROM q, embeddings c WHERE c.vec_id != q.query_id),
      ranked AS (
        SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
        FROM scored)
      SELECT query_id, neighbor_id, round(cos, 6) AS cos, rank
      FROM ranked WHERE rank <= {k}
    """


def q_ann_lsh_topk(
    n_queries: int = 5,
    k: int = 10,
    n_tables: int = 8,
    planes_per_table: int = 6,
    seed: int = 42,
    dim: int = 64,
) -> str:
    """Value-checked twin of kgtm.similarity.lsh_topk — possible since round
    6's determinism work: the ±1 Rademacher planes are regenerated from the
    same splitmix64 stream (HUGEINT mix chain), and the sign computation is
    a FIXED-POINT integer dot (embeddings quantized to 1e-6 in both
    engines), so bucket codes are bitwise identical regardless of summation
    order. Candidates = multi-table bucket join with the query-side 1-bit
    multiprobe flips; scoring = exact cosine within candidates (the same
    rounding contract the green ann_topk row established)."""
    from kgtm.dedup import _GOLDEN64, _SM64_C1, _SM64_C2
    from kgtm.similarity import _LSH_QUANT

    b = planes_per_table
    n_planes = n_tables * b
    tagshift = 1 << (b + 1)
    return f"""
      WITH comp AS (
        SELECT vec_id, d,
               CAST(floor(e::DOUBLE * {_LSH_QUANT} + 0.5) AS BIGINT) AS qc
        FROM (SELECT vec_id, unnest(embedding) AS e,
                     unnest(generate_series(0, {dim - 1})) AS d
              FROM embeddings)),
      pseed AS (SELECT pidx,
                       ((({seed}::HUGEINT << 32) + pidx + 1) * {_GOLDEN64})
                         % {_MOD64_SQL} AS z
                FROM range(0, {n_planes * dim}) t(pidx)),
      pm1 AS (SELECT pidx, xor(z, z >> 30) AS z FROM pseed),
      pm2 AS (SELECT pidx, {_sql_mul64("z", _SM64_C1)} AS z FROM pm1),
      pm3 AS (SELECT pidx, xor(z, z >> 27) AS z FROM pm2),
      pm4 AS (SELECT pidx, {_sql_mul64("z", _SM64_C2)} AS z FROM pm3),
      planes AS (SELECT pidx // {dim} AS plane, pidx % {dim} AS d,
                        CASE WHEN xor(z, z >> 31) >= (1::HUGEINT << 63)
                             THEN 1 ELSE -1 END AS r
                 FROM pm4),
      dots AS (SELECT c.vec_id, p.plane, sum(c.qc * p.r) AS s
               FROM comp c JOIN planes p USING (d)
               GROUP BY c.vec_id, p.plane),
      bits AS (SELECT vec_id, plane // {b} AS tbl, plane % {b} AS j,
                      CASE WHEN s >= 0 THEN 1 ELSE 0 END AS bit
               FROM dots),
      codes AS (SELECT vec_id, tbl,
                       CAST(sum(bit * (1 << j)) AS BIGINT) AS code
                FROM bits GROUP BY vec_id, tbl),
      ckeys AS (SELECT vec_id AS neighbor_id,
                       tbl * {tagshift} + code AS bucket
                FROM codes),
      qprim AS (SELECT vec_id AS query_id, tbl, code FROM codes
                WHERE vec_id < {n_queries}),
      qkeys AS (
        SELECT query_id, tbl * {tagshift} + code AS bucket FROM qprim
        UNION ALL
        SELECT query_id, tbl * {tagshift} + xor(code, 1 << j) AS bucket
        FROM qprim, range(0, {b}) t(j)),
      cand AS (SELECT DISTINCT q.query_id, c.neighbor_id
               FROM qkeys q JOIN ckeys c USING (bucket)
               WHERE q.query_id != c.neighbor_id),
      scored AS (
        SELECT cand.query_id, cand.neighbor_id,
               list_cosine_similarity(qe.embedding::DOUBLE[],
                                      ce.embedding::DOUBLE[]) AS cos
        FROM cand
        JOIN embeddings qe ON qe.vec_id = cand.query_id
        JOIN embeddings ce ON ce.vec_id = cand.neighbor_id),
      ranked AS (
        SELECT *, row_number() OVER (PARTITION BY query_id
                                     ORDER BY cos DESC, neighbor_id) AS rank
        FROM scored)
      SELECT query_id, neighbor_id, round(cos, 6) AS cos, rank
      FROM ranked WHERE rank <= {k}
    """


def q_ann_ivf_topk(
    n_queries: int = 5,
    k: int = 10,
    n_centroids: int = 16,
    nprobe: int = 6,
    max_iter: int = 8,
    dim: int = 64,
) -> str:
    """Value-checked twin of kgtm.similarity.ivf_topk — possible since round
    6's FIXED-POINT k-means: init picks the n_centroids vectors with the
    smallest splitmix64((id+1)*GOLDEN) (replayed by the HUGEINT mix chain),
    assignment is an exact integer dot against 1e-6-grid unit centroids
    (ties to the smaller cell), and the centroid update is an integer
    member-sum re-unitized with one deterministic sqrt — so this twin
    UNROLLS all max_iter Lloyd iterations in SQL and lands on bit-identical
    centroids, cells, probes, candidates, and final ranking."""
    from kgtm.dedup import _GOLDEN64, _SM64_C1, _SM64_C2
    from kgtm.similarity import _LSH_QUANT

    # one dots/asg/sum/new/cent block per Lloyd iteration
    iters = []
    for i in range(max_iter):
        iters.append(f"""
      dots{i} AS MATERIALIZED (
                  SELECT c.vec_id, kk.cell, sum(c.qc * kk.cq) AS dot
                  FROM comp c JOIN cent{i} kk USING (d)
                  GROUP BY c.vec_id, kk.cell),
      asg{i} AS (SELECT vec_id, cell FROM (
                   SELECT vec_id, cell,
                          row_number() OVER (PARTITION BY vec_id
                                             ORDER BY dot DESC, cell) AS rn
                   FROM dots{i}) WHERE rn = 1),
      sum{i} AS (SELECT a.cell, c.d, sum(c.qc) AS s
                 FROM asg{i} a JOIN comp c USING (vec_id)
                 GROUP BY a.cell, c.d),
      n2_{i} AS (SELECT cell, sum(s*s) AS n2 FROM sum{i} GROUP BY cell),
      new{i} AS (SELECT s.cell, s.d,
                        CAST(floor(s.s::DOUBLE / sqrt(n2.n2::DOUBLE)
                                   * {_LSH_QUANT} + 0.5) AS BIGINT) AS cq
                 FROM sum{i} s JOIN n2_{i} n2 USING (cell)
                 WHERE n2.n2 > 0),
      cent{i + 1} AS MATERIALIZED (
                      SELECT p.cell, p.d, coalesce(n.cq, p.cq) AS cq
                      FROM cent{i} p LEFT JOIN new{i} n USING (cell, d))""")
    iter_sql = ",".join(iters)
    fin = max_iter
    return f"""
      WITH comp AS MATERIALIZED (
        SELECT vec_id, d,
               CAST(floor(e::DOUBLE * {_LSH_QUANT} + 0.5) AS BIGINT) AS qc
        FROM (SELECT vec_id, unnest(embedding) AS e,
                     unnest(generate_series(0, {dim - 1})) AS d
              FROM embeddings)),
      mi0 AS (SELECT vec_id,
                     (((vec_id::HUGEINT + 1) * {_GOLDEN64}) % {_MOD64_SQL})
                       AS z
              FROM embeddings),
      mi1 AS (SELECT vec_id, xor(z, z >> 30) AS z FROM mi0),
      mi2 AS (SELECT vec_id, {_sql_mul64("z", _SM64_C1)} AS z FROM mi1),
      mi3 AS (SELECT vec_id, xor(z, z >> 27) AS z FROM mi2),
      mi4 AS (SELECT vec_id, {_sql_mul64("z", _SM64_C2)} AS z FROM mi3),
      mixid AS (SELECT vec_id, xor(z, z >> 31) >> 1 AS h FROM mi4),
      initc AS (SELECT row_number() OVER (ORDER BY h, vec_id) - 1 AS cell,
                       vec_id
                FROM mixid ORDER BY h, vec_id LIMIT {n_centroids}),
      in2 AS (SELECT i.cell, sum(c.qc * c.qc) AS n2
              FROM initc i JOIN comp c USING (vec_id) GROUP BY i.cell),
      cent0 AS MATERIALIZED (SELECT i.cell, c.d,
                       CAST(floor(c.qc::DOUBLE / sqrt(n2.n2::DOUBLE)
                                  * {_LSH_QUANT} + 0.5) AS BIGINT) AS cq
                FROM initc i
                JOIN comp c USING (vec_id)
                JOIN in2 n2 ON n2.cell = i.cell
                WHERE n2.n2 > 0),{iter_sql},
      dots{fin} AS (SELECT c.vec_id, kk.cell, sum(c.qc * kk.cq) AS dot
                    FROM comp c JOIN cent{fin} kk USING (d)
                    GROUP BY c.vec_id, kk.cell),
      cells AS (SELECT vec_id AS neighbor_id, cell FROM (
                  SELECT vec_id, cell,
                         row_number() OVER (PARTITION BY vec_id
                                            ORDER BY dot DESC, cell) AS rn
                  FROM dots{fin}) WHERE rn = 1),
      qprobe AS (SELECT vec_id AS query_id, cell FROM (
                   SELECT vec_id, cell,
                          row_number() OVER (PARTITION BY vec_id
                                             ORDER BY dot DESC, cell) AS rn
                   FROM dots{fin} WHERE vec_id < {n_queries})
                 WHERE rn <= {nprobe}),
      cand AS (SELECT DISTINCT q.query_id, c.neighbor_id
               FROM qprobe q JOIN cells c USING (cell)
               WHERE q.query_id != c.neighbor_id),
      scored AS (
        SELECT cand.query_id, cand.neighbor_id,
               list_cosine_similarity(qe.embedding::DOUBLE[],
                                      ce.embedding::DOUBLE[]) AS cos
        FROM cand
        JOIN embeddings qe ON qe.vec_id = cand.query_id
        JOIN embeddings ce ON ce.vec_id = cand.neighbor_id),
      ranked AS (
        SELECT *, row_number() OVER (PARTITION BY query_id
                                     ORDER BY cos DESC, neighbor_id) AS rank
        FROM scored)
      SELECT query_id, neighbor_id, round(cos, 6) AS cos, rank
      FROM ranked WHERE rank <= {k}
    """


def q_lsh_recall() -> str:
    """Twin of the lsh_recall gate query: recall of each approximate search
    path against its exact truth set, both sides computed wholly in-plan —
    the approximate sides are themselves the (round-6) value-checked twins,
    so this row turns approximation QUALITY into driver-visible, hash-checked
    numbers rather than pytest-only evidence."""
    return f"""
      WITH mh_truth AS (SELECT id_a, id_b FROM ({q_ngram_jaccard(0.2)})),
      mh_appr AS (SELECT id_a, id_b FROM ({q_minhash_lsh(0.2, n_hashes=32)})),
      bf AS (SELECT query_id, neighbor_id FROM ({q_ann_topk(5, 10)})),
      lshq AS (SELECT query_id, neighbor_id FROM ({q_ann_lsh_topk()})),
      ivfq AS (SELECT query_id, neighbor_id FROM ({q_ann_ivf_topk()})),
      rows_ AS (
        SELECT 'ann_ivf_topk' AS method,
               (SELECT count(*) FROM bf) AS n_truth,
               (SELECT count(*) FROM bf JOIN ivfq
                  USING (query_id, neighbor_id)) AS n_hit
        UNION ALL
        SELECT 'ann_lsh_topk',
               (SELECT count(*) FROM bf),
               (SELECT count(*) FROM bf JOIN lshq
                  USING (query_id, neighbor_id))
        UNION ALL
        SELECT 'minhash_lsh',
               (SELECT count(*) FROM mh_truth),
               (SELECT count(*) FROM mh_truth JOIN mh_appr
                  USING (id_a, id_b)))
      SELECT method, n_truth::BIGINT AS n_truth, n_hit::BIGINT AS n_hit,
             round(n_hit * 1.0 / n_truth, 6) AS recall
      FROM rows_
    """


def q_embedding_neardup(threshold: float = 0.5) -> str:
    return f"""
      SELECT a.vec_id AS id_a, b.vec_id AS id_b,
             round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 6) AS cos
      FROM embeddings a, embeddings b
      WHERE a.vec_id < b.vec_id
        AND list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) >= {threshold}
    """


def q_media_meta() -> str:
    return """
      SELECT doc_id AS asset_id,
             CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS media_type,
             strlen(text)::BIGINT AS n_bytes,
             md5(text) AS content_digest
      FROM documents
    """


def q_frame_samples() -> str:
    return """
      SELECT doc_id AS asset_id,
             unnest(generate_series(0, (doc_id % 5) * 1000 + 499, 1000))::INT AS frame_ms,
             strlen(text)::BIGINT AS n_bytes
      FROM documents
      WHERE doc_id % 3 = 2
    """


# ===========================================================================
# Config overlay (B6/B7), effective-accept rewrite (C6), taxonomy (F4-F6)
# ===========================================================================

import base64 as _b64


def _b(s: str) -> str:
    return _b64.b64encode(s.encode()).decode()


# (case_id, auth_header, expected onto_version/format/precedence/restricted)
AUTH_CASES = [
    (1, "basic " + _b("--ontoVersion latestArchived --ontoFormat ntriples:pw"),
     "latestArchived", "ntriples", "enforcedPriority", False),
    (2, "basic " + _b("--ontoVersion timestampArchived --ontoPrecedence always --restrictedAccess:pw"),
     "timestampArchived", "turtle", "always", True),
    (3, "basic " + _b(":pw"),
     "originalFailoverLiveLatest", "turtle", "enforcedPriority", False),
    (4, "basic " + _b("--unknownFlag foo:pw"),
     "originalFailoverLiveLatest", "turtle", "enforcedPriority", False),
    (5, "bearer xyz", None, None, None, None),
    (6, None, None, None, None, None),
]


def q_config_overlay() -> str:
    rows = []
    for cid, hdr, ov, fmt, prec, res in AUTH_CASES:
        h = "NULL" if hdr is None else f"'{hdr}'"
        ovs = "NULL" if ov is None else f"'{ov}'"
        fs = "NULL" if fmt is None else f"'{fmt}'"
        ps = "NULL" if prec is None else f"'{prec}'"
        rs = "NULL" if res is None else str(res).upper()
        rows.append(f"({cid}, {h}, {ovs}, {fs}, {ps}, {rs})")
    vals = ",\n      ".join(rows)
    return f"""
      SELECT case_id,
             CAST(onto_version AS VARCHAR) AS onto_version,
             CAST(format AS VARCHAR) AS format,
             CAST(precedence AS VARCHAR) AS precedence,
             CAST(restricted AS BOOLEAN) AS restricted
      FROM (VALUES
      {vals}) AS t(case_id, auth_header, onto_version, format, precedence, restricted)
    """


# (case_id, accept_header, expected under enforcedPriority, expected under always)
EFFECTIVE_ACCEPT_CASES = [
    (1, None, "text/turtle", "text/turtle"),
    (2, "", "text/turtle", "text/turtle"),
    (3, "*/*", "text/turtle", "text/turtle"),
    (4, "text/html", "text/html", "text/turtle"),
    (5, "text/turtle;q=0.2,text/html", "text/turtle", "text/turtle"),
    (6, "application/json,text/html", "application/json,text/html", "text/turtle"),
]


def q_effective_accept() -> str:
    rows = []
    for cid, hdr, enf, alw in EFFECTIVE_ACCEPT_CASES:
        h = "NULL" if hdr is None else f"'{hdr}'"
        rows.append(f"({cid}, {h}, '{enf}', '{alw}')")
    vals = ",\n      ".join(rows)
    return f"""
      SELECT case_id, CAST(accept_header AS VARCHAR) AS accept_header,
             eff_enforced, eff_always
      FROM (VALUES
      {vals}) AS t(case_id, accept_header, eff_enforced, eff_always)
    """


_CATEGORY_SQL = """
  CASE WHEN NOT l.is_linked THEN 'unlinked'
       WHEN l.rung = 0 THEN 'exact-linked'
       ELSE 'normalized-linked' END
"""


def q_accessibility_matrix() -> str:
    roles = ["click", "error", "purchase", "signup", "view"]
    cols = ",\n             ".join(
        f"count(*) FILTER (WHERE t.role = '{r}') AS {r}" for r in roles
    )
    return f"""
      WITH {DUCKDB_TRANSCRIPTS_CTE}, {MENTION_LINK_CTES}
      SELECT {_CATEGORY_SQL} AS category,
             {cols}
      FROM links l JOIN transcripts t USING (conv_id, turn_idx)
      GROUP BY 1
    """


def q_accessibility_matrix_dual() -> str:
    """Direct-vs-proxy dual-log twin: the same links resolved as
    mode='original' (source always 'original') and as latestArchived,
    unioned with a run_mode tag and pivoted."""
    cat = """
      CASE WHEN NOT is_linked THEN 'unlinked'
           WHEN source = 'not-found' THEN 'linked-no-snapshot'
           WHEN rung = 0 THEN 'exact-linked'
           ELSE 'normalized-linked' END
    """
    return f"""
      WITH {DUCKDB_TRANSCRIPTS_CTE}, {MENTION_LINK_CTES}, {LATEST_CTE},
      direct AS (
        SELECT l.is_linked, l.rung, 'original' AS source FROM links l),
      proxy AS (
        SELECT l.is_linked, l.rung,
               CASE WHEN NOT l.is_linked THEN 'unlinked'
                    WHEN t.snapshot_iri IS NULL THEN 'not-found'
                    ELSE 'archivo-latest' END AS source
        FROM links l LEFT JOIN latest t USING (ontology_iri)),
      both_runs AS (
        SELECT 'direct' AS run_mode, * FROM direct
        UNION ALL
        SELECT 'proxy', * FROM proxy)
      SELECT {cat} AS category, source,
             count(*) FILTER (WHERE run_mode = 'direct') AS direct,
             count(*) FILTER (WHERE run_mode = 'proxy') AS proxy
      FROM both_runs
      GROUP BY 1, 2
    """


def q_fully_linked_convs() -> str:
    return f"""
      WITH {DUCKDB_TRANSCRIPTS_CTE}, {MENTION_LINK_CTES}
      SELECT l.conv_id,
             count(*) AS n_mentions,
             count(DISTINCT t.role) AS n_roles,
             (sum(CASE WHEN l.is_linked THEN 1 ELSE 0 END) = count(*)) AS fully_linked
      FROM links l JOIN transcripts t USING (conv_id, turn_idx)
      GROUP BY 1
    """


# ===========================================================================
# Dependency closure (D6) — recursive CTE oracle
# ===========================================================================

from kgtm.transcripts import ontology_snapshot_rows as _snap_rows


def _duckdb_snapshot_edges_values() -> str:
    rows = []
    for _iri, _ts, snap, _url, deps in _snap_rows():
        lst = "[" + ", ".join(f"'{d}'" for d in deps) + "]"
        rows.append(f"('{snap}', {lst})")
    return (
        "(VALUES\n      "
        + ",\n      ".join(rows)
        + ") AS snap_deps(snapshot_iri, deps)"
    )


def q_dependency_closure(root_prefix: str = "view") -> str:
    """Closure from all snapshots of the `view` ontology, min depth per node."""
    return f"""
      WITH RECURSIVE
      snap_deps AS (SELECT * FROM {_duckdb_snapshot_edges_values()}),
      edges AS (
        SELECT snapshot_iri AS parent, unnest(deps) AS child FROM snap_deps
      ),
      roots AS (
        SELECT snapshot_iri FROM snap_deps
        WHERE snapshot_iri LIKE '%/{root_prefix}/%'
      ),
      walk AS (
        SELECT snapshot_iri AS root_snapshot_iri, snapshot_iri, 0 AS depth
        FROM roots
        UNION ALL
        SELECT w.root_snapshot_iri, e.child, w.depth + 1
        FROM walk w JOIN edges e ON w.snapshot_iri = e.parent
        WHERE w.depth < 20
      )
      SELECT root_snapshot_iri, snapshot_iri, CAST(min(depth) AS INT) AS depth
      FROM walk GROUP BY 1, 2
    """


# ===========================================================================
# Sessionization + rollup (gaps-and-islands twin / GROUPING SETS twin)
# ===========================================================================


def q_session_windows(gap_minutes: int = 30) -> str:
    return f"""
      WITH marked AS (
        SELECT user_id, ts, value,
               CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                         > INTERVAL {gap_minutes} MINUTE
                    OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                    THEN 1 ELSE 0 END AS is_new
        FROM events
      ),
      islands AS (
        SELECT *, sum(is_new) OVER (PARTITION BY user_id ORDER BY ts
                                    ROWS UNBOUNDED PRECEDING) AS island
        FROM marked
      )
      SELECT user_id, min(ts) AS session_start,
             count(*) AS n_events,
             round(sum(value), 4) AS total_value
      FROM islands GROUP BY user_id, island
    """


def q_rollup_metrics() -> str:
    return """
      SELECT event_type, user_id,
             count(*) AS n_events,
             round(sum(value), 4) AS total_value,
             CAST(grouping(event_type) * 2 + grouping(user_id) AS BIGINT) AS gid
      FROM events
      GROUP BY ROLLUP (event_type, user_id)
    """


def q_dedup_clusters(threshold: float = 0.5) -> str:
    """Near-dup clustering twin: recursive reachability closure over the
    exact-Jaccard pair graph, cluster label = lexicographic min reachable id
    (the engine casts ids to strings before connected components), survivor =
    numeric min id per cluster."""
    return f"""
      WITH RECURSIVE {WORDS_CTE}, {SHINGLES_CTE},
      inter AS (
        SELECT a.id AS id_a, b.id AS id_b, a.n_sh AS n_a, b.n_sh AS n_b,
               count(*) AS ni
        FROM flat a JOIN flat b USING (shingle)
        WHERE a.id < b.id
        GROUP BY 1, 2, 3, 4),
      pairs AS (
        SELECT id_a, id_b FROM inter
        WHERE ni * 1.0 / (n_a + n_b - ni) >= {threshold}),
      und AS (
        SELECT id_a AS a, id_b AS b FROM pairs
        UNION SELECT id_b, id_a FROM pairs),
      reach AS (
        SELECT doc_id AS src, doc_id AS dst FROM documents
        UNION
        SELECT r.src, u.b FROM reach r JOIN und u ON r.dst = u.a
      ),
      clus AS (
        SELECT src AS id, min(CAST(dst AS VARCHAR)) AS cluster_id
        FROM reach GROUP BY src
      )
      SELECT id, cluster_id,
             id = min(id) OVER (PARTITION BY cluster_id) AS is_survivor
      FROM clus
    """


def q_corpus_curation(min_quality: float = 0.45, threshold: float = 0.5) -> str:
    """Twin of kgtm.curation.curate_documents: quality gate → exact dedup →
    recursive near-dup closure, one drop-reason per document."""
    return rf"""
      WITH RECURSIVE
      scored AS (
        SELECT doc_id, quality_score FROM ({q_quality_stats()})
      ),
      hq AS (
        SELECT d.doc_id, d.text, s.quality_score
        FROM documents d JOIN scored s USING (doc_id)
        WHERE s.quality_score >= {min_quality}
      ),
      digests AS (SELECT doc_id, md5(text) AS dg FROM hq),
      keepers AS (SELECT dg, min(doc_id) AS keep FROM digests GROUP BY dg),
      exact_kept AS (
        SELECT d.doc_id, d.doc_id = k.keep AS exact_keep
        FROM digests d JOIN keepers k USING (dg)
      ),
      hq2 AS (
        SELECT h.doc_id, h.text
        FROM hq h JOIN exact_kept e USING (doc_id) WHERE e.exact_keep
      ),
      w2 AS (
        SELECT doc_id AS id, string_split_regex(trim(lower(text)), '\s+') AS w
        FROM hq2
      ),
      sh2 AS (
        SELECT id, list_distinct(
                 list_transform(generate_series(1, greatest(len(w)-2, 0)),
                                i -> array_to_string(w[i:i+2], ' '))) AS s
        FROM w2
      ),
      flat2 AS (SELECT id, len(s) AS n_sh, unnest(s) AS shingle FROM sh2),
      inter2 AS (
        SELECT a.id AS id_a, b.id AS id_b, a.n_sh AS n_a, b.n_sh AS n_b,
               count(*) AS ni
        FROM flat2 a JOIN flat2 b USING (shingle)
        WHERE a.id < b.id
        GROUP BY 1, 2, 3, 4
      ),
      prs AS (
        SELECT id_a, id_b FROM inter2
        WHERE ni * 1.0 / (n_a + n_b - ni) >= {threshold}
      ),
      und AS (
        SELECT id_a AS a, id_b AS b FROM prs
        UNION SELECT id_b, id_a FROM prs
      ),
      reach AS (
        SELECT id AS src, id AS dst FROM w2
        UNION
        SELECT r.src, u.b FROM reach r JOIN und u ON r.dst = u.a
      ),
      surv AS (
        SELECT src AS doc_id, src = min(dst) AS is_survivor
        FROM reach GROUP BY src
      )
      SELECT s.doc_id,
             round(s.quality_score, 6) AS quality_score,
             (CASE WHEN s.quality_score < {min_quality} THEN 'low-quality'
                   WHEN NOT e.exact_keep THEN 'exact-dup'
                   WHEN NOT v.is_survivor THEN 'near-dup' END) IS NULL AS kept,
             CASE WHEN s.quality_score < {min_quality} THEN 'low-quality'
                  WHEN NOT e.exact_keep THEN 'exact-dup'
                  WHEN NOT v.is_survivor THEN 'near-dup' END AS drop_reason
      FROM scored s
      LEFT JOIN exact_kept e USING (doc_id)
      LEFT JOIN surv v USING (doc_id)
    """


def q_value_percentiles() -> str:
    return """
      SELECT event_type, count(*) AS n_events,
             round(quantile_cont(value, 0.5), 4) AS p50,
             round(quantile_cont(value, 0.95), 4) AS p95,
             round(quantile_cont(value, 0.99), 4) AS p99
      FROM events GROUP BY event_type
    """


# ===========================================================================
# Full request lifecycle (SURVEY §3.1): accept → format → ladder → version →
# API URL → status taxonomy, in one query.
# ===========================================================================

# deterministic per-turn Accept header: index k % 6 into this list
LIFECYCLE_HEADERS = [
    "text/turtle",                                  # → ttl
    "application/rdf+xml,text/turtle;q=0.9",        # → owl
    "application/json",                             # → None (500 analog)
    "*/*",                                          # → None
    "application/n-triples;q=0.5,text/turtle;q=0.5",# → nt
    "",                                             # → None
]
LIFECYCLE_FORMATS = ["ttl", "owl", None, None, "nt", None]


def q_request_lifecycle() -> str:
    hdr_cases = " ".join(
        f"WHEN {i} THEN '{h}'" for i, h in enumerate(LIFECYCLE_HEADERS)
    )
    fmt_cases = " ".join(
        f"WHEN {i} THEN '{f}'" for i, f in enumerate(LIFECYCLE_FORMATS) if f
    )
    return f"""
      WITH {DUCKDB_TRANSCRIPTS_CTE}, {MENTION_LINK_CTES}, {LATEST_CTE}
      SELECT l.conv_id, l.turn_idx,
             CASE k6 {hdr_cases} END AS accept_header,
             CASE k6 {fmt_cases} ELSE NULL END AS format,
             l.ontology_iri,
             CASE WHEN NOT l.is_linked THEN 'passthrough'
                  WHEN (CASE k6 {fmt_cases} ELSE NULL END) IS NULL THEN '500'
                  WHEN t.snapshot_iri IS NULL THEN '404'
                  ELSE '200' END AS status,
             CASE WHEN l.is_linked AND t.snapshot_iri IS NOT NULL
                       AND (CASE k6 {fmt_cases} ELSE NULL END) IS NOT NULL
                  THEN 'https://archivo.dbpedia.org/download?o=' || l.ontology_iri
                       || '&f=' || (CASE k6 {fmt_cases} ELSE NULL END)
                       || '&v=' || strftime(t.version_ts, '%Y.%m.%d-%H%M%S')
             END AS request_url
      FROM (
        SELECT l.*, CAST(TRY_CAST(regexp_extract(tr.text, 'k=([0-9]+)', 1) AS BIGINT) % 6 AS INT) AS k6
        FROM links l JOIN transcripts tr USING (conv_id, turn_idx)
      ) l
      LEFT JOIN latest t USING (ontology_iri)
    """


# Failover (D3) live-leg modeling: per-mention live status / Content-Type are
# deterministic functions of the planted k (status by k%7, content-type by
# k%5, Accept header by k%6 — co-prime-ish moduli so all combinations occur).
FAILOVER_STATUSES = [200, 404, 500, 301, 502, 304, 403]
FAILOVER_CONTENT_TYPES = [
    "text/turtle",
    "text/turtle; charset=utf-8",
    "application/rdf+xml",
    "application/json",
    None,
]


def q_failover_resolution() -> str:
    """Twin of resolve_links(mode='originalFailoverLiveLatest'): acceptance
    booleans are pinned from the PURE-PYTHON spec (kgtm.negotiate, itself the
    port of proxy_logic.py:209-238 + utils.py:18-32), so the SQL is a golden
    table over (k%6, k%5, k%7) while Spark computes the gate from column
    expressions."""
    from kgtm.negotiate import (
        PASSTHROUGH_STATUS_CODES,
        parse_accept_header_with_priority,
    )

    header_mimes = [
        [m for m, _ in parse_accept_header_with_priority(h)]
        for h in LIFECYCLE_HEADERS
    ]
    # raw split, no strip — matches the reference's .split(';')[0] exactly
    ct_base = [(c or ";").split(";")[0] for c in FAILOVER_CONTENT_TYPES]
    status_ok_sql = " ".join(
        f"WHEN {i} THEN {str(s in PASSTHROUGH_STATUS_CODES).upper()}"
        for i, s in enumerate(FAILOVER_STATUSES)
    )
    ct_ok_sql = " ".join(
        f"WHEN {i6 * 5 + i5} THEN {str(ct_base[i5] in header_mimes[i6]).upper()}"
        for i6 in range(6)
        for i5 in range(5)
    )
    hdr_sql = " ".join(
        f"WHEN {i} THEN '{h}'" for i, h in enumerate(LIFECYCLE_HEADERS)
    )
    status_sql = " ".join(
        f"WHEN {i} THEN {s}" for i, s in enumerate(FAILOVER_STATUSES)
    )
    ct_sql = " ".join(
        f"WHEN {i} THEN '{c}'"
        for i, c in enumerate(FAILOVER_CONTENT_TYPES)
        if c is not None
    )
    accepted = f"(CASE k7 {status_ok_sql} END AND CASE k6 * 5 + k5 {ct_ok_sql} END)"
    return f"""
      WITH {DUCKDB_TRANSCRIPTS_CTE}, {MENTION_LINK_CTES}, {LATEST_CTE}
      SELECT l.conv_id, l.turn_idx, l.surface,
             CASE k6 {hdr_sql} END AS accept_header,
             CAST(CASE k7 {status_sql} END AS INT) AS live_status,
             CASE k5 {ct_sql} ELSE NULL END AS live_content_type,
             CASE WHEN NOT l.is_linked THEN 'unlinked'
                  WHEN {accepted} THEN 'original'
                  WHEN t.snapshot_iri IS NULL THEN 'not-found'
                  ELSE 'archivo-latest' END AS source,
             CASE WHEN NOT l.is_linked THEN NULL
                  WHEN {accepted} THEN NULL
                  ELSE t.snapshot_iri END AS snapshot_iri
      FROM (
        SELECT l.*,
               CAST(k % 6 AS INT) AS k6,
               CAST(k % 5 AS INT) AS k5,
               CAST(k % 7 AS INT) AS k7
        FROM (
          SELECT l.*, TRY_CAST(regexp_extract(tr.text, 'k=([0-9]+)', 1) AS BIGINT) AS k
          FROM links l JOIN transcripts tr USING (conv_id, turn_idx)
        ) l
      ) l
      LEFT JOIN latest t USING (ontology_iri)
    """


def q_asof_per_row() -> str:
    """Per-row as-of pins: pin = 2024-01-01 + (k mod 400) days per mention."""
    return f"""
      WITH {DUCKDB_TRANSCRIPTS_CTE}, {MENTION_LINK_CTES},
      snaps AS (SELECT * FROM {duckdb_snapshots_values()}),
      pinned AS (
        SELECT l.*, TIMESTAMP '2024-01-01'
               + (TRY_CAST(regexp_extract(tr.text, 'k=([0-9]+)', 1) AS BIGINT) % 400)
                 * INTERVAL 1 DAY AS pin_ts
        FROM links l JOIN transcripts tr USING (conv_id, turn_idx)
      )
      SELECT p.conv_id, p.turn_idx, p.surface, p.pin_ts,
             max(s.version_ts) AS version_ts,
             arg_max(s.snapshot_iri, s.version_ts) AS snapshot_iri,
             CASE WHEN NOT p.is_linked THEN 'unlinked'
                  WHEN max(s.version_ts) IS NULL THEN 'not-found'
                  ELSE 'archivo-timestamp' END AS source
      FROM pinned p
      LEFT JOIN snaps s
        ON p.ontology_iri = s.ontology_iri AND s.version_ts <= p.pin_ts
      GROUP BY p.conv_id, p.turn_idx, p.surface, p.pin_ts, p.is_linked
    """


def q_canonical_entities() -> str:
    """Connected-components twin over the surface↔ontology link graph:
    recursive reachability, component label = min reachable node (string
    order, matching kgtm.canonicalize's string node labels)."""
    return f"""
      WITH RECURSIVE {DUCKDB_TRANSCRIPTS_CTE}, {MENTION_LINK_CTES},
      edges AS (
        SELECT DISTINCT surface AS a, ontology_iri AS b FROM links WHERE is_linked
        UNION
        SELECT DISTINCT ontology_iri, surface FROM links WHERE is_linked
      ),
      nodes AS (
        SELECT DISTINCT surface AS n FROM links
        UNION SELECT DISTINCT ontology_iri FROM links WHERE is_linked
      ),
      reach AS (
        SELECT n AS src, n AS dst FROM nodes
        UNION
        SELECT r.src, e.b FROM reach r JOIN edges e ON r.dst = e.a
      ),
      comp AS (SELECT src, min(dst) AS component FROM reach GROUP BY src)
      SELECT l.surface, comp.component AS canonical_id
      FROM (SELECT DISTINCT surface FROM links) l
      JOIN comp ON comp.src = l.surface
    """


# ===========================================================================
# Graph materializations
# ===========================================================================


def q_entity_degrees() -> str:
    # twin of graph.entity_degrees over the flagship triple derivation
    return f"""
      WITH {DUCKDB_TRANSCRIPTS_CTE}, {MENTION_LINK_CTES},
      triples AS (
        SELECT l.conv_id, 'agent' AS subj, 'uses' AS pred,
               coalesce(l.ontology_iri, l.surface) AS obj
        FROM links l
      ),
      roles AS (
        SELECT subj AS entity, TRUE AS is_out, pred, conv_id FROM triples
        UNION ALL
        SELECT obj, FALSE, pred, conv_id FROM triples
      )
      SELECT entity,
             (count(*) FILTER (WHERE is_out))::BIGINT AS out_degree,
             (count(*) FILTER (WHERE NOT is_out))::BIGINT AS in_degree,
             (count(DISTINCT pred) FILTER (WHERE is_out))::BIGINT AS n_preds_out,
             count(DISTINCT conv_id)::BIGINT AS n_convs
      FROM roles GROUP BY entity
    """


def q_incremental_relink() -> str:
    """Twin of the incremental_relink gate query: the oracle is a FULL
    re-link against the mutated dictionary — incremental == full is exactly
    the operator's correctness contract."""
    from kgtm.transcripts import mutated_index_rows

    return f"""
      WITH {DUCKDB_TRANSCRIPTS_CTE}, {mention_link_ctes(duckdb_index_values(mutated_index_rows()))}
      SELECT conv_id, turn_idx, surface, is_linked, rung, ontology_iri,
             canonical_path
      FROM links
    """


def q_index_diff() -> str:
    """DERIVED twin of graph.index_diff (round-4 verdict: the hard-coded
    two-row literal was the file's weakest oracle): DuckDB diffs the SAME
    two VALUES dictionaries the engine diffs — ontology_index_rows() vs
    mutated_index_rows() — with EXCEPT ALL on (iri, host, path), mirroring
    index_diff's exceptAll semantics instead of asserting its answer."""
    from kgtm.transcripts import mutated_index_rows

    old_vals = duckdb_index_values()
    new_vals = duckdb_index_values(mutated_index_rows())
    return f"""
      WITH old_idx AS (SELECT ontology_iri, host, path FROM {old_vals}),
           new_idx AS (SELECT ontology_iri, host, path FROM {new_vals})
      SELECT 'added' AS change, ontology_iri
      FROM (SELECT * FROM new_idx EXCEPT ALL SELECT * FROM old_idx)
      UNION ALL
      SELECT 'removed' AS change, ontology_iri
      FROM (SELECT * FROM old_idx EXCEPT ALL SELECT * FROM new_idx)
    """


def q_gazetteer_mentions() -> str:
    """Twin of extract.gazetteer_mentions over the role labels: whole-word
    union-regex hits per surface (same longest-first alternation as the
    engine's compiled pattern)."""
    labels = ["click", "error", "purchase", "signup", "view"]
    alt = "|".join(sorted(labels, key=len, reverse=True))
    return f"""
      WITH {DUCKDB_TRANSCRIPTS_CTE},
      hits AS (
        SELECT unnest(regexp_extract_all(text, '\\b({alt})\\b', 1)) AS surface
        FROM transcripts
      )
      SELECT surface, count(*) AS n_hits FROM hits GROUP BY surface
    """


def q_fuzzy_linking() -> str:
    """Golden-table twin of the fuzzy_linking gate query: the expected top-1
    links are recomputed HERE with exact char-3-gram Jaccard in pure Python
    (surfaces = role labels + doubled-last-char typos + one junk string,
    labels = the ontology dictionary), pinned as VALUES. The Spark side goes
    through the full MinHash-LSH blocking path — at 100% candidate recall on
    this corpus both sides agree exactly."""
    from kgtm.transcripts import DICT_HOST, EVENT_TYPES

    def grams(s: str) -> set[str]:
        s = " ".join(s.lower().split())
        return {s[i : i + 3] for i in range(len(s) - 2)} if len(s) >= 3 else set()

    labels = sorted(EVENT_TYPES)
    surfaces = sorted(EVENT_TYPES) + sorted(e + e[-1] for e in EVENT_TYPES) + ["zzz qqq"]
    rows = []
    for s in surfaces:
        best = None  # (score, label) — max score, ties broken by min label
        for lab in labels:
            a, b = grams(s), grams(lab)
            union = len(a | b)
            j = len(a & b) / union if union else 0.0
            if j >= 0.3 and (best is None or j > best[0] or (j == best[0] and lab < best[1])):
                best = (j, lab)
        if best:
            rows.append(
                f"('{s}', '{best[1]}', 'http://{DICT_HOST}/{best[1]}', "
                f"CAST({round(best[0], 6)} AS DOUBLE), TRUE)"
            )
        else:
            rows.append(
                f"('{s}', NULL, NULL, CAST(NULL AS DOUBLE), FALSE)"
            )
    vals = ",\n      ".join(rows)
    return f"""
      SELECT CAST(surface AS VARCHAR) AS surface,
             CAST(matched_label AS VARCHAR) AS matched_label,
             CAST(entity AS VARCHAR) AS entity,
             score, CAST(is_linked AS BOOLEAN) AS is_linked
      FROM (VALUES
      {vals}) AS t(surface, matched_label, entity, score, is_linked)
    """


def q_adjacency_lists(max_neighbors: int = 100) -> str:
    """Twin of graph.adjacency_lists over the flagship triples, flattened to
    'pred|obj' strings. ORDER BY (pred, obj) mirrors Spark's struct sort
    (field-wise); the fixed SVO verb lexicon has no prefix pairs, so the
    flattened ordering is identical."""
    return f"""
      WITH {DUCKDB_TRANSCRIPTS_CTE}, {MENTION_LINK_CTES},
      t AS (
        SELECT l.conv_id, 'agent' AS subj, 'uses' AS pred,
               coalesce(l.ontology_iri, l.surface) AS obj
        FROM links l
      )
      SELECT subj,
             array_to_string(
               list_slice(list(pred || '|' || obj ORDER BY pred, obj),
                          1, {max_neighbors}), ';') AS neighbors_str,
             count(*) AS degree,
             count(*) > {max_neighbors} AS truncated
      FROM t GROUP BY subj
    """


def q_mention_contexts() -> str:
    return f"""
      WITH {DUCKDB_TRANSCRIPTS_CTE}, {MENTION_LINK_CTES},
      ctx AS (
        SELECT conv_id, turn_idx,
               lag(text, 1) OVER (PARTITION BY conv_id ORDER BY turn_idx) AS prev_text,
               text AS turn_text,
               lead(text, 1) OVER (PARTITION BY conv_id ORDER BY turn_idx) AS next_text
        FROM transcripts
      )
      SELECT l.conv_id, l.turn_idx, l.surface, l.ontology_iri,
             c.prev_text, c.turn_text, c.next_text
      FROM links l JOIN ctx c USING (conv_id, turn_idx)
      WHERE l.is_linked
    """


def q_repetition_signals(
    top_ns: tuple[int, ...] = (2, 3, 4),
    dup_ns: tuple[int, ...] = (5, 10),
    line_sep: str = "\n",
) -> str:
    """Value-checked twin of kgtm.repetition.repetition_signals (Gopher
    repetition filters): duplicate-line fractions over trimmed non-empty
    lowercased lines, top-n-gram char fraction with the (count, char
    length, gram) lexicographic-max tie-break, and duplicate-n-gram
    COVERAGE char fraction (union of covered word indices, no double
    counting). Denominator for every n-gram fraction is the summed word
    length (whitespace excluded); all fractions round to 6 dp, 0.0 when
    the denominator is 0 — mirroring the Spark column expressions exactly.
    """
    ns = sorted(set(top_ns) | set(dup_ns))
    gram_sqls = [
        f"""
        SELECT doc_id, {n} AS n, s - 1 AS start,
               array_to_string(words[s : s + {n - 1}], ' ') AS gram
        FROM (SELECT doc_id, words, unnest(range(1, len(words) - {n} + 2)) AS s
              FROM docs WHERE len(words) >= {n})
        """
        for n in ns
    ]
    grams_union = " UNION ALL ".join(gram_sqls)
    top_cols = ", ".join(
        f"max(CASE WHEN n = {n} THEN top_chars END) AS top{n}" for n in top_ns
    )
    cov_cols = ", ".join(
        f"max(CASE WHEN n = {n} THEN cov_chars END) AS cov{n}" for n in dup_ns
    )
    top_fracs = ", ".join(
        f"""CASE WHEN b.total_chars > 0
             THEN round(coalesce(t.top{n}, 0)::DOUBLE / b.total_chars, 6)
             ELSE 0.0 END AS top{n}_char_frac"""
        for n in top_ns
    )
    cov_fracs = ", ".join(
        f"""CASE WHEN b.total_chars > 0
             THEN round(coalesce(c.cov{n}, 0)::DOUBLE / b.total_chars, 6)
             ELSE 0.0 END AS dup{n}_char_frac"""
        for n in dup_ns
    )
    return f"""
      WITH docs AS (
        SELECT doc_id, {_DUCK_WORDS_EXPR} AS words,
               list_filter(
                 list_transform(
                   string_split_regex(coalesce(lower(text), ''), '{line_sep}'),
                   l -> trim(l)),
                 l -> l <> '') AS lines
        FROM documents),
      base AS (
        SELECT doc_id,
               CAST(len(words) AS INT) AS n_words,
               CAST(coalesce(list_sum(list_transform(words, w -> length(w))), 0)
                    AS BIGINT) AS total_chars,
               CAST(len(lines) AS INT) AS n_lines,
               CASE WHEN len(lines) > 0
                 THEN round((len(lines) - len(list_distinct(lines)))::DOUBLE
                            / len(lines), 6) ELSE 0.0 END AS dup_line_frac,
               CASE WHEN coalesce(list_sum(list_transform(lines, l -> length(l))), 0) > 0
                 THEN round(
                   (list_sum(list_transform(lines, l -> length(l)))
                    - list_sum(list_transform(list_distinct(lines), l -> length(l))))::DOUBLE
                   / list_sum(list_transform(lines, l -> length(l))), 6)
                 ELSE 0.0 END AS dup_line_char_frac
        FROM docs),
      grams AS ({grams_union}),
      gcnt AS (
        SELECT doc_id, n, start, gram,
               count(*) OVER (PARTITION BY doc_id, n, gram) AS cnt
        FROM grams),
      top1 AS (
        SELECT doc_id, n, cnt * glen AS top_chars FROM (
          SELECT doc_id, n, cnt, length(gram) - (n - 1) AS glen, gram,
                 row_number() OVER (
                   PARTITION BY doc_id, n
                   ORDER BY cnt DESC, length(gram) - (n - 1) DESC, gram DESC) AS rn
          FROM (SELECT DISTINCT doc_id, n, gram, cnt FROM gcnt
                WHERE n IN ({", ".join(str(n) for n in top_ns)}))
        ) WHERE rn = 1),
      tops AS (SELECT doc_id, {top_cols} FROM top1 GROUP BY doc_id),
      wordtbl AS (
        SELECT doc_id, i - 1 AS idx, length(words[i]) AS wlen
        FROM (SELECT doc_id, words, unnest(range(1, len(words) + 1)) AS i
              FROM docs WHERE len(words) > 0)),
      covidx AS (
        SELECT DISTINCT doc_id, n, idx FROM (
          SELECT doc_id, n, unnest(range(start, start + n)) AS idx
          FROM gcnt
          WHERE cnt >= 2 AND n IN ({", ".join(str(n) for n in dup_ns)}))),
      cov1 AS (
        SELECT c.doc_id, c.n, sum(w.wlen) AS cov_chars
        FROM covidx c JOIN wordtbl w ON w.doc_id = c.doc_id AND w.idx = c.idx
        GROUP BY c.doc_id, c.n),
      covs AS (SELECT doc_id, {cov_cols} FROM cov1 GROUP BY doc_id)
      SELECT b.doc_id, b.n_words, b.total_chars, b.n_lines,
             b.dup_line_frac, b.dup_line_char_frac,
             {top_fracs},
             {cov_fracs}
      FROM base b
      LEFT JOIN tops t USING (doc_id)
      LEFT JOIN covs c USING (doc_id)
    """


def q_pii_signals() -> str:
    """Value-checked twin of kgtm.pii.pii_signals: per-kind independent
    regex hit counts on the original text. The patterns come from the SAME
    PII_PATTERNS constants the Spark side compiles (Java-regex/RE2-common
    subset — see kgtm.pii's portability contract)."""
    from kgtm.pii import PII_KINDS, PII_PATTERNS

    counts = [
        f"len(regexp_extract_all(coalesce(text, ''), '{PII_PATTERNS[k][0]}'))"
        for k in PII_KINDS
    ]
    cols = ", ".join(
        f"CAST({c} AS BIGINT) AS n_{k}" for k, c in zip(PII_KINDS, counts)
    )
    total = " + ".join(counts)
    return f"""
      SELECT doc_id, {cols},
             CAST({total} AS BIGINT) AS n_pii,
             ({total}) > 0 AS has_pii
      FROM documents
    """


def q_redact_pii() -> str:
    """Value-checked twin of kgtm.pii.redact_pii: sequential whole-text
    regexp_replace per kind in PII_KINDS order (DuckDB needs the 'g' flag;
    Spark replaces all by default)."""
    from kgtm.pii import PII_KINDS, PII_PATTERNS

    expr = "coalesce(text, '')"
    for k in PII_KINDS:
        pat, tok = PII_PATTERNS[k]
        expr = f"regexp_replace({expr}, '{pat}', '{tok}', 'g')"
    return f"SELECT doc_id, text, {expr} AS text_redacted FROM documents"


# The one tokenization contract shared by every words-based twin (the
# DuckDB mirror of kgtm.textstats.words_col_guarded): trim+lower+split on
# \s+, empty array for blank/null text.
_DUCK_WORDS_EXPR = (
    r"CASE WHEN trim(coalesce(text, '')) = '' THEN []::VARCHAR[] "
    r"ELSE string_split_regex(trim(lower(text)), '\s+') END"
)

_DUCK_WORDS_CTE = f"""
      docs AS (
        SELECT doc_id, {_DUCK_WORDS_EXPR} AS words
        FROM documents)
"""


def q_chunk_token_windows(
    window: int = 64, stride: int | None = None, drop_incomplete: bool = False
) -> str:
    """Value-checked twin of kgtm.packing.chunk_token_windows: per-document
    token windows every `stride` tokens, 1-based inclusive list slicing
    mirroring Spark's F.slice."""
    if stride is None:
        stride = window
    slice_expr = f"words[j * {stride} + 1 : j * {stride} + {window}]"
    keep = (
        f"WHERE len({slice_expr}) = {window}" if drop_incomplete else ""
    )
    return f"""
      WITH {_DUCK_WORDS_CTE},
      wins AS (
        SELECT doc_id, words,
               unnest(range(0, (len(words) + {stride} - 1) // {stride})) AS j
        FROM docs WHERE len(words) > 0)
      SELECT doc_id, CAST(j AS INT) AS win_idx,
             CAST(j * {stride} AS INT) AS start_tok,
             CAST(len({slice_expr}) AS INT) AS n_tokens,
             array_to_string({slice_expr}, ' ') AS chunk
      FROM wins {keep}
    """


def q_pack_greedy(budget: int = 2048, n_shards: int = 8) -> str:
    """Value-checked twin of kgtm.packing.pack_greedy: the same greedy
    walk replayed as a recursive CTE — per shard, in doc_id order, a doc
    opens a new pack exactly when the current pack is non-empty and would
    overflow `budget`."""
    new_pack = (
        "w.pack_off + w.n_tokens > 0 "
        f"AND w.pack_off + w.n_tokens + o.n_tokens > {budget}"
    )
    return rf"""
      WITH RECURSIVE toks AS (
        SELECT doc_id,
               -- ((x % n) + n) % n mirrors Spark's pmod for negative ids
               CAST(((doc_id % {n_shards}) + {n_shards}) % {n_shards} AS INT) AS shard,
               CAST(len({_DUCK_WORDS_EXPR}) AS BIGINT) AS n_tokens
        FROM documents),
      ord_ AS (
        SELECT *, row_number() OVER (PARTITION BY shard ORDER BY doc_id) AS rn
        FROM toks),
      walk AS (
        SELECT shard, rn, doc_id, n_tokens,
               0::BIGINT AS pack_idx, 0::BIGINT AS pack_off
        FROM ord_ WHERE rn = 1
        UNION ALL
        SELECT o.shard, o.rn, o.doc_id, o.n_tokens,
               CASE WHEN {new_pack} THEN w.pack_idx + 1 ELSE w.pack_idx END,
               CASE WHEN {new_pack} THEN 0::BIGINT
                    ELSE w.pack_off + w.n_tokens END
        FROM walk w JOIN ord_ o ON o.shard = w.shard AND o.rn = w.rn + 1)
      SELECT doc_id, shard, n_tokens, pack_idx, pack_off FROM walk
    """


def q_mixture_sample(
    weights: dict[str, float],
    domain_col: str = "source",
    salt: str = "mix",
    default_weight: float = 1.0,
) -> str:
    """Value-checked twin of kgtm.mixture.mixture_sample: the same per-row
    copy count — floor(weight) whole epochs plus one more when the first
    32 bits of md5('{id}:{salt}') fall under floor(frac(weight) * 2^32) —
    replayed with DuckDB's md5 and an unnest(range(n)) fan-out."""
    from kgtm.mixture import _copy_plan

    plan, (dw, dt) = _copy_plan(weights, default_weight)

    def q(dom: str) -> str:  # SQL string-literal escape for domain names
        return "'" + dom.replace("'", "''") + "'"

    whole_cases = " ".join(f"WHEN {q(dom)} THEN {w}" for dom, (w, _) in plan.items())
    thresh_cases = " ".join(f"WHEN {q(dom)} THEN {t}" for dom, (_, t) in plan.items())
    h = f"CAST('0x' || substr(md5(doc_id::VARCHAR || ':{salt}'), 1, 8) AS UBIGINT)::BIGINT"
    return f"""
      WITH ncop AS (
        SELECT *,
               (CASE {domain_col} {whole_cases} ELSE {dw} END)
               + (CASE WHEN {h} < (CASE {domain_col} {thresh_cases} ELSE {dt} END)
                       THEN 1 ELSE 0 END) AS n_copies_
        FROM documents)
      SELECT * EXCLUDE (n_copies_, epoch_), CAST(epoch_ AS INT) AS epoch
      FROM (SELECT *, unnest(range(0, n_copies_)) AS epoch_ FROM ncop)
    """


def q_repetition_filter(thresholds: dict[str, float] | None = None) -> str:
    """Value-checked twin of kgtm.mixture.repetition_filter: the Gopher
    keep-gate as a conjunction over the repetition-signals twin."""
    from kgtm.mixture import REPETITION_DEFAULTS

    thresholds = REPETITION_DEFAULTS if thresholds is None else thresholds
    conds = " AND ".join(
        f"{col} <= {float(cap)!r}" for col, cap in sorted(thresholds.items())
    )
    return f"""
      SELECT doc_id, ({conds}) AS keep,
             n_words, total_chars, n_lines, dup_line_frac, dup_line_char_frac,
             top2_char_frac, top3_char_frac, top4_char_frac,
             dup5_char_frac, dup10_char_frac
      FROM ({q_repetition_signals()})
    """


def q_paragraph_dedup(sep: str = "\n", min_chars: int = 20) -> str:
    """Value-checked twin of kgtm.paragraphs.paragraph_dedup: split on the
    literal separator (string_split == Spark's \\Q..\\E-quoted split, both
    keeping trailing empties), rank candidate paragraphs by (doc_id, pos)
    within their md5 digest, keep rank 1 plus every sub-min_chars
    paragraph, and reassemble in paragraph order. Docs with zero kept
    paragraphs drop out of the GROUP BY on both engines."""
    s = sep.replace("'", "''")
    return f"""
      WITH ex AS (
        SELECT doc_id, CAST(i AS INT) AS pos, paras[i + 1] AS para,
               CAST(len(paras) AS INT) AS n_paras
        FROM (SELECT doc_id, string_split(text, '{s}') AS paras,
                     unnest(range(0, len(string_split(text, '{s}')))) AS i
              FROM documents)),
      cand AS (
        SELECT *, row_number() OVER (PARTITION BY md5(para)
                                     ORDER BY doc_id, pos) AS rn
        FROM ex WHERE length(trim(para)) >= {min_chars}),
      kept AS (
        SELECT doc_id, pos, para, n_paras FROM ex
        WHERE length(trim(para)) < {min_chars}
        UNION ALL
        SELECT doc_id, pos, para, n_paras FROM cand WHERE rn = 1)
      SELECT doc_id, string_agg(para, '{s}' ORDER BY pos) AS text,
             any_value(n_paras) AS n_paras, count(*) AS n_kept
      FROM kept GROUP BY doc_id
    """


def _q_split_tag(key_expr: str, holdout_frac: float, salt: str) -> str:
    """CASE expression tagging ``key_expr`` train/holdout by the shared
    md5-first-32-bits integer-threshold contract (mixture.hash32_col)."""
    import math as _math

    thresh = int(_math.floor(holdout_frac * (1 << 32)))
    h = (
        f"CAST('0x' || substr(md5({key_expr}::VARCHAR || ':{salt}'), 1, 8) "
        "AS UBIGINT)::BIGINT"
    )
    return f"CASE WHEN {h} < {thresh} THEN 'holdout' ELSE 'train' END"


def q_split_assign(holdout_frac: float = 0.01, salt: str = "split") -> str:
    """Value-checked twin of kgtm.mixture.split_assign on the documents
    table keyed by doc_id (NULL ids fall to train via CASE semantics,
    matching Spark's coalesce(h < t, false))."""
    return f"""
      SELECT *, {_q_split_tag("doc_id", holdout_frac, salt)} AS split
      FROM documents
    """


def q_leakage_safe_split(
    threshold: float = 0.5, holdout_frac: float = 0.01, salt: str = "split"
) -> str:
    """Value-checked twin of kgtm.mixture.leakage_safe_split: the
    recursive-CTE near-dup closure (q_dedup_clusters, uncapped shingle
    space) joined back to documents, split tag hashed on the cluster id so
    whole clusters move together."""
    return f"""
      SELECT d.*, c.cluster_id,
             {_q_split_tag("c.cluster_id", holdout_frac, salt)} AS split
      FROM documents d
      JOIN ({q_dedup_clusters(threshold)}) c ON d.doc_id = c.id
    """


def q_unigram_nll(top_v: int | None = None) -> str:
    """Value-checked twin of kgtm.lm.unigram_nll (self-scoring: model corpus
    == scored corpus == documents): unigram counts over the shared
    tokenization contract, N = uncapped total mass, optional top-v vocab
    with the (cnt desc, word asc) tie-break, OOV floor 1/N, mean -log2
    rounded to 6 dp. Zero-token docs vanish from the GROUP BY on both
    engines. The flat CTE drops '' tokens (the space-only-trim phantom —
    see kgtm.lm._lm_tokens), so whitespace-only docs are omitted too.

    ``top_v`` mirrors the Spark contract exactly: None = uncapped, and a
    non-positive cap is rejected here just as kgtm.lm._cap_vocab raises —
    the twin must not silently accept an input the impl refuses
    (`if top_v` would have treated 0 as uncapped)."""
    if top_v is not None and top_v <= 0:
        raise ValueError(f"top_v must be positive or None: {top_v}")
    vocab = (
        f"SELECT w, c FROM cnts ORDER BY c DESC, w ASC LIMIT {top_v}"
        if top_v is not None
        else "SELECT w, c FROM cnts"
    )
    return f"""
      WITH {_DUCK_WORDS_CTE},
      flat AS (SELECT doc_id, w
               FROM (SELECT doc_id, unnest(words) AS w FROM docs)
               WHERE w != ''),
      cnts AS (SELECT w, count(*) AS c FROM flat GROUP BY w),
      tot AS (SELECT CAST(sum(c) AS DOUBLE) AS n FROM cnts),
      vocab AS ({vocab})
      SELECT doc_id, count(*) AS n_tokens,
             CAST(sum(CASE WHEN v.c IS NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_oov,
             round(avg(-log2(coalesce(CAST(v.c AS DOUBLE), 1.0) / tot.n)), 6)
               AS nll_bits
      FROM flat LEFT JOIN vocab v ON flat.w = v.w, tot
      GROUP BY doc_id
    """


def q_substring_dedup(min_words: int = 20) -> str:
    """Value-checked twin of kgtm.spandedup.substring_dedup: duplicated
    >= min_words-word spans removed everywhere but their corpus-global
    first occurrence. Same contract end-to-end — original-case whitespace
    words with the blank/NULL guard, case-insensitive md5 gram keys
    (md5(lower(joined gram)) == joining lowered words), first instance per
    gram value under (doc_id, pos) order, gaps-and-islands interval merge
    (adjacency merges: pos > prev_max_end + 1 breaks), touched docs
    reassembled with single spaces, untouched docs byte-identical."""
    L = int(min_words)
    return f"""
      WITH toks AS (
        SELECT doc_id, text,
               CASE WHEN trim(coalesce(text, '')) = '' THEN []::VARCHAR[]
                    ELSE string_split_regex(trim(text), '\\s+') END AS w
        FROM documents),
      poss AS (
        SELECT doc_id, w, unnest(range(0, len(w) - {L} + 1)) AS pos
        FROM toks WHERE len(w) >= {L}),
      grams AS (
        SELECT doc_id, pos,
               md5(lower(array_to_string(w[pos + 1 : pos + {L}], ' '))) AS gh
        FROM poss),
      marked AS (
        SELECT doc_id, pos,
               row_number() OVER (PARTITION BY gh ORDER BY doc_id, pos) AS rn,
               count(*) OVER (PARTITION BY gh) AS cnt
        FROM grams),
      dups AS (
        SELECT doc_id, pos, pos + {L} - 1 AS e
        FROM marked WHERE cnt > 1 AND rn > 1),
      brk AS (
        SELECT doc_id, pos, e,
               CASE WHEN pos > coalesce(max(e) OVER (
                      PARTITION BY doc_id ORDER BY pos
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                    -2) + 1
                    THEN 1 ELSE 0 END AS b
        FROM dups),
      spans AS (
        SELECT doc_id, min(pos) AS s, max(e) AS e
        FROM (SELECT doc_id, pos, e,
                     sum(b) OVER (PARTITION BY doc_id ORDER BY pos
                                  ROWS UNBOUNDED PRECEDING) AS isl
              FROM brk)
        GROUP BY doc_id, isl),
      covered AS (
        SELECT doc_id, unnest(range(s, e + 1)) AS idx FROM spans),
      widx AS (
        SELECT doc_id, w, unnest(range(0, len(w))) AS idx
        FROM toks WHERE len(w) > 0
          AND doc_id IN (SELECT doc_id FROM spans)),
      recon AS (
        SELECT widx.doc_id,
               coalesce(string_agg(
                 CASE WHEN c.idx IS NULL THEN widx.w[widx.idx + 1] END,
                 ' ' ORDER BY widx.idx), '') AS newtext,
               count(c.idx) AS n_removed
        FROM widx LEFT JOIN covered c
          ON c.doc_id = widx.doc_id AND c.idx = widx.idx
        GROUP BY widx.doc_id),
      nsp AS (SELECT doc_id, count(*) AS n_spans FROM spans GROUP BY doc_id)
      SELECT t.doc_id,
             CASE WHEN r.doc_id IS NULL THEN t.text ELSE r.newtext END AS text,
             CAST(len(t.w) AS BIGINT) AS n_words,
             CAST(coalesce(r.n_removed, 0) AS BIGINT) AS n_words_removed,
             CAST(coalesce(nsp.n_spans, 0) AS BIGINT) AS n_spans
      FROM toks t
      LEFT JOIN recon r USING (doc_id)
      LEFT JOIN nsp USING (doc_id)
    """


def q_nll_buckets(top_v: int | None = None) -> str:
    """Value-checked twin of kgtm.lm.bucket_by_nll over q_unigram_nll's
    scores (default head/middle/tail tertiles): DuckDB's quantile_cont
    interpolates exactly like Spark's percentile (both type-7 linear),
    boundaries rounded to 6 dp, bucket index = count of boundaries
    STRICTLY below the score (boundary ties go LOW on both engines)."""
    return f"""
      WITH scored AS (SELECT * FROM ({q_unigram_nll(top_v)})),
      th AS (
        SELECT list_transform(
                 [quantile_cont(nll_bits, 1.0/3), quantile_cont(nll_bits, 2.0/3)],
                 x -> round(x, 6)) AS t
        FROM scored)
      SELECT s.doc_id, s.n_tokens, s.n_oov, s.nll_bits,
             CASE WHEN s.nll_bits IS NULL THEN NULL
                  ELSE CAST(len(list_filter(th.t, x -> s.nll_bits > x)) AS INT)
             END AS nll_bucket,
             CASE WHEN s.nll_bits IS NULL THEN NULL
                  ELSE (['head', 'middle', 'tail'])[
                    len(list_filter(th.t, x -> s.nll_bits > x)) + 1]
             END AS bucket_label
      FROM scored s, th
    """


def q_negative_samples(
    k: int = 4, pool_size: int = 65536, salt: str = "negsamp"
) -> str:
    """Value-checked twin of kgtm.graph.negative_samples over a `triples`
    view (subj, pred, obj): the same md5-first-32-bits draw (mixture's
    hash32 idiom), parity side pick, draw>>1 mod pool-count replacement
    from the (md5(entity), entity)-smallest pool, and NOT EXISTS filter
    against true triples."""
    return f"""
      WITH t AS (
        SELECT subj, pred, obj FROM triples
        WHERE subj IS NOT NULL AND pred IS NOT NULL AND obj IS NOT NULL),
      ents AS (
        SELECT DISTINCT entity FROM (
          SELECT subj AS entity FROM t
          UNION ALL SELECT obj AS entity FROM t)),
      pool AS (
        SELECT entity,
               row_number() OVER (ORDER BY md5(entity), entity) - 1
                 AS pool_idx
        FROM (SELECT entity FROM ents
              ORDER BY md5(entity), entity LIMIT {pool_size})),
      np AS (SELECT count(*) AS n_pool FROM pool),
      pos0 AS (
        SELECT subj, pred, obj,
               unnest(range(0, {k})) AS sample_idx
        FROM t),
      pos AS (
        SELECT subj, pred, obj, sample_idx,
               CAST('0x' || substr(md5(
                 subj || chr(31) || pred || chr(31) || obj || chr(31) ||
                 CAST(sample_idx AS VARCHAR) || ':{salt}'), 1, 8)
                 AS UBIGINT) AS draw
        FROM pos0),
      drawn AS (
        SELECT subj, pred, obj, CAST(sample_idx AS INT) AS sample_idx,
               CASE WHEN draw % 2 = 0 THEN 'subj' ELSE 'obj' END AS side,
               CAST((draw // 2) % np.n_pool AS BIGINT) AS pool_idx
        FROM pos, np),
      neg AS (
        SELECT d.subj, d.pred, d.obj, d.sample_idx, d.side,
               CASE WHEN d.side = 'subj' THEN p.entity ELSE d.subj END
                 AS neg_subj,
               CASE WHEN d.side = 'obj' THEN p.entity ELSE d.obj END
                 AS neg_obj
        FROM drawn d JOIN pool p USING (pool_idx))
      SELECT n.subj, n.pred, n.obj, n.sample_idx, n.side,
             n.neg_subj, n.neg_obj
      FROM neg n
      WHERE NOT EXISTS (
        SELECT 1 FROM t
        WHERE t.subj = n.neg_subj AND t.pred = n.pred
          AND t.obj = n.neg_obj)
    """
