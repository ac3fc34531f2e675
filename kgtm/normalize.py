"""Surface-IRI normalization: the 6-rung candidate ladder.

Re-expresses the reference's central membership operator
``is_archivo_ontology_request`` (/root/reference/ontologytimemachine/utils/
proxy_logic.py:88-144): try ``(host, path)`` through a ladder of progressively
coarser keys, first hit wins and *canonicalizes* the path (the reference
mutates the request path in place; we emit a ``canonical_path`` column).

Rungs (after the reference's control flow, which REBINDS the path at rung 1 so
later rungs derive from the stripped path):

  0  exact path
  1  path.rstrip('/')                                 (proxy_logic.py:108-113)
  2  parent        = '/'.join(stripped.split('/')[:-1])         (:117-123)
  3  parent + '/'                                               (:125-129)
  4  grandparent   = '/'.join(stripped.split('/')[:-2])         (:131-135)
  5  grandparent + '/'                                          (:137-141)

A path-less request matches on host alone (proxy_logic.py:100-101); fragment
(#term, the "hash" iri_type) is split off during parsing, mirroring how an
HTTP client never sends the fragment in the request path. The https-flip retry
(proxy_logic.py:256-257) is scheme normalization here: membership keys are
scheme-agnostic (host, path); the canonical scheme comes from the dictionary.

The pure functions below are the executable spec (unit-tested without Spark).
``_rung_cands`` is the one Spark translation of the rungs. Linking probes
its six candidates and keeps the first hit (``first_rung_hit``), by map
lookups against a literal dictionary (``ladder_probe_expr``) or by rung-keyed
broadcast equi-joins (``kgtm.link.broadcast_ladder_link``);
``candidate_paths_col`` is the candidate array that
``link.incremental_relink`` explodes to find mentions a dictionary change
can flip.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# ---------------------------------------------------------------------------
# Pure-Python executable spec (importable without Spark; used by unit tests
# and by the vectorized pandas-UDF bodies).
# ---------------------------------------------------------------------------


def split_iri(iri: str) -> tuple[str, str, str, str]:
    """Split an IRI into (scheme, host, path, frag).

    Mirrors the urlparse-based split at download_archivo_urls.py:119-127 plus
    fragment handling for hash-type IRIs (tests/archivo_test_IRIs.tsv
    iri_type=hash).
    """
    scheme, sep, rest = iri.partition("://")
    if not sep:
        scheme, rest = "", iri
    rest, _, frag = rest.partition("#")
    host, slash, path = rest.partition("/")
    return scheme, host, (slash + path if slash else ""), frag


def ladder_candidates(path: str) -> list[tuple[int, str | None]]:
    """All (rung, candidate_path) pairs for a request path, in rung order."""
    if not path:
        # Path-less request: host-only membership (proxy_logic.py:100-101).
        # The candidate is None — distinct from a ladder rung that *produces*
        # an empty string (e.g. the grandparent of a 1-segment path), which
        # must NOT trigger host-only matching.
        return [(0, None)]
    cands = [(0, path)]
    stripped = path.rstrip("/") if path.endswith("/") else path
    cands.append((1, stripped))
    parts = stripped.split("/")
    parent = "/".join(parts[:-1])
    cands.append((2, parent))
    cands.append((3, parent + "/"))
    gparent = "/".join(parts[:-2])
    cands.append((4, gparent))
    cands.append((5, gparent + "/"))
    return cands


def resolve_membership(
    host: str, path: str, index: set[tuple[str, str]]
) -> tuple[bool, str | None, int | None]:
    """First-hit-wins ladder membership: (is_linked, canonical_path, rung).

    Reference control flow at proxy_logic.py:96-144 (including the host-only
    match for empty paths).
    """
    if not path:
        return (any(h == host for h, _ in index), None, 0 if any(h == host for h, _ in index) else None)
    for rung, cand in ladder_candidates(path):
        if (host, cand) in index:
            return True, cand, rung
    return False, None, None


# ---------------------------------------------------------------------------
# Spark column expressions (set-oriented ladder).
# ---------------------------------------------------------------------------


def _rung_cands(p: Column) -> list[Column]:
    """The six rung candidates of a path column, in rung order — the one
    Spark definition of :func:`ladder_candidates` (pinned to it by
    tests/test_normalize.py); later rungs derive from the rstripped path."""
    stripped = F.when(p.endswith("/"), F.regexp_replace(p, "/+$", "")).otherwise(p)
    parts = F.split(stripped, "/")
    n = F.size(parts)
    parent = F.array_join(F.slice(parts, 1, F.greatest(n - F.lit(1), F.lit(0))), "/")
    gparent = F.array_join(F.slice(parts, 1, F.greatest(n - F.lit(2), F.lit(0))), "/")
    return [
        p,
        stripped,
        parent,
        F.concat(parent, F.lit("/")),
        gparent,
        F.concat(gparent, F.lit("/")),
    ]


def candidate_paths_col(path: str | Column = "path") -> Column:
    """array<struct<rung:int, cand_path:string>> of ladder candidates.

    Pure column expression — stays inside whole-stage codegen.
    """
    p = F.col(path) if isinstance(path, str) else path

    def rung(i: int, cand: Column) -> Column:
        return F.struct(F.lit(i).alias("rung"), cand.alias("cand_path"))

    full = F.array(*(rung(i, c) for i, c in enumerate(_rung_cands(p))))
    # Path-less request → single host-only candidate (NULL path, see the
    # pure spec above for why NULL and not "").
    return F.when(
        p.isNull() | (p == ""),
        F.array(rung(0, F.lit(None).cast("string"))),
    ).otherwise(full)


def first_rung_hit(cands: list[Column], iris: list[Column]) -> Column:
    """struct<rung:int, cand_path:string, ontology_iri:string> of the LOWEST
    rung whose dictionary lookup ``iris[i]`` (of candidate ``cands[i]``) is
    non-NULL; NULL when no rung hits. The first-hit-wins cascade both link
    plans share: six map lookups on the literal plan, six broadcast equi-join
    lookups on the other (kgtm.link.broadcast_ladder_link).

    A scalar CASE WHEN cascade, not the higher-order form (transform +
    filter over the candidate array): that form is CodegenFallback —
    interpreted, one closure call per rung per row — and measured ~0.8
    s/query slower at sf0.1 (round 7); this one stays inside whole-stage
    codegen end to end.
    """

    def hit(i: int) -> Column:
        return F.struct(
            F.lit(i).alias("rung"),
            cands[i].alias("cand_path"),
            iris[i].alias("ontology_iri"),
        )

    cascade = F.when(iris[0].isNotNull(), hit(0))
    for i in range(1, len(cands)):
        cascade = cascade.when(iris[i].isNotNull(), hit(i))
    return cascade


def ladder_probe_expr(path_map: Column) -> Column:
    """First-hit-wins ladder probe of the ``path`` column against a
    ``map<path, ontology_iri>`` column (:func:`first_rung_hit` over six
    GetMapValue lookups): NULL when no rung hits or the path is empty/NULL
    (host-only matching stays the caller's business, exactly like
    candidate_paths_col's [(0, NULL)] sentinel — without the guard an empty
    path would spuriously probe rungs 3/5's bare "/" candidate).
    """
    p = F.col("path")
    cands = _rung_cands(p)
    cascade = first_rung_hit(cands, [path_map[c] for c in cands])
    return F.when(p.isNull() | (p == ""), F.lit(None)).otherwise(cascade)


def parse_iri_cols(iri: str | Column = "surface") -> list[Column]:
    """scheme/host/path/frag columns from a surface-IRI column.

    Column-expression twin of :func:`split_iri` (kept in lockstep by
    tests/test_normalize.py::test_spark_matches_pure_spec).
    """
    s = F.col(iri) if isinstance(iri, str) else iri
    scheme = F.regexp_extract(s, r"^([a-zA-Z][a-zA-Z0-9+.-]*)://", 1)
    after = F.regexp_replace(s, r"^[a-zA-Z][a-zA-Z0-9+.-]*://", "")
    no_frag = F.regexp_replace(after, r"#.*$", "")
    frag = F.regexp_extract(after, r"#(.*)$", 1)
    host = F.regexp_extract(no_frag, r"^([^/]*)", 1)
    path = F.regexp_replace(no_frag, r"^[^/]*", "")
    return [
        scheme.alias("scheme"),
        host.alias("host"),
        path.alias("path"),
        frag.alias("frag"),
    ]
