"""ConceptNet knowledge-base client (SURVEY §2 C15).

Re-expresses the reference's ConceptNet lookup (reference
``src/python/marbles/ie/kb/conceptnet.py:17-60``: a per-term HTTP GET
against ``api.conceptnet.io`` whose JSON reply is indexed into an
ordered ``rel-label -> [edge]`` map) with two deliberate changes:

* **Injectable transport.**  The reference hard-codes
  ``requests.get(BASEURL + term)`` in the constructor, so the class
  cannot be tested or run offline.  Here the fetch callable is a
  constructor argument; the default (:func:`http_fetch`) performs the
  same GET via stdlib urllib but is never invoked by tests, oracled
  queries, or any pipeline default — this sandbox has no network, and a
  100 TB batch job must not do per-row HTTP either way.

* **Batch path is vocabulary-bounded, not corpus-bounded.**  The
  Spark-side entry point :func:`conceptnet_edges` fetches each DISTINCT
  term exactly once on the driver and returns the edges as a small
  DataFrame suitable for a broadcast join back to mentions/lexicon
  rows.  Collecting distinct lemmas is bounded by vocabulary growth
  (sub-linear in corpus size), the same bounded-collect pattern as the
  hot-conversation salting keys in ``pipeline/extract.py`` — the 100 TB
  scan never touches the network.
"""

from __future__ import annotations

import json
import logging
from collections import OrderedDict
from typing import Callable, Iterable, Mapping, Optional

log = logging.getLogger(__name__)

#: Relationship labels the reference documents as available
#: (reference conceptnet.py:1-9 module docstring).
RELATIONS = (
    "RelatedTo", "HasProperty", "ReceivesAction", "AtLocation",
    "CapableOf", "HasA", "UsedFor", "Synonym", "DerivedFrom",
    "ExternalURL", "FormOf",
)

BASEURL = "http://api.conceptnet.io/c/en/"

Fetch = Callable[[str], Mapping]


def concept_path(term: str) -> str:
    """URL path segment for a term.

    ConceptNet URIs use underscores for multi-word concepts
    (``/c/en/ice_cream``); ``quote()`` guards everything else so a
    stray control character can never crash ``urlopen`` with a
    misleading transport error.
    """
    from urllib.parse import quote

    return quote("_".join(term.split()), safe="")


def http_fetch(term: str) -> Mapping:
    """Default transport: GET ``BASEURL + term`` and decode JSON.

    Mirrors the reference's ``request()`` (conceptnet.py:41-43).  Kept
    out of every default code path — call sites must opt in.  Raises
    ``RuntimeError`` with a clear message when the network is
    unreachable instead of surfacing a bare socket error.
    """
    from urllib.request import urlopen  # deferred: offline sandboxes

    try:
        with urlopen(BASEURL + concept_path(term), timeout=10) as resp:
            return json.loads(resp.read().decode("utf-8"))
    except Exception as exc:  # noqa: BLE001 — uniform offline story
        raise RuntimeError(
            f"ConceptNet HTTP fetch failed for {term!r} (offline "
            f"environment? inject a fetch callable): {exc}") from exc


def process_edges(reply: Mapping) -> "OrderedDict[str, list]":
    """Index a ConceptNet JSON reply by relation label.

    Field-for-field the reference's ``process_edges``
    (conceptnet.py:45-61): each edge keeps start/end/weight/dataset/
    sources/rel/id/surfaceText, grouped into an insertion-ordered map
    keyed by ``edge['rel']['label']``.  Malformed edges (missing keys)
    are skipped with a warning rather than aborting the whole reply —
    the reference would raise ``KeyError`` mid-index.
    """
    edges: "OrderedDict[str, list]" = OrderedDict()
    for edge in reply.get("edges", ()):
        try:
            rec = {
                "start": edge["start"],
                "end": edge["end"],
                "weight": edge["weight"],
                "dataset": edge["dataset"],
                "sources": edge["sources"],
                "rel": edge["rel"],
                "id": edge["@id"],
                "surfaceText": edge["surfaceText"],
            }
        except KeyError as missing:
            log.warning("skipping malformed ConceptNet edge (no %s): %s",
                        missing, edge.get("@id", "<no id>"))
            continue
        edges.setdefault(rec["rel"]["label"], []).append(rec)
    return edges


class Conceptnet:
    """Per-term lookup with the reference's API surface.

    ``Conceptnet(term).relations`` / ``.edges(rel)`` behave as the
    reference class does (conceptnet.py:30-69): the term is
    ``strip().lower()``-normalized, the reply is indexed at
    construction, ``edges`` returns ``None`` for an unknown relation
    (the reference prints a diagnostic; we log it).
    """

    def __init__(self, term: str, fetch: Optional[Fetch] = None):
        self.term = term.strip().lower()
        self._fetch = fetch if fetch is not None else http_fetch
        self._reply = self._fetch(self.term)
        self._edges = process_edges(self._reply)
        self.relations = self._edges.keys()

    def edges(self, rel: str):
        try:
            return self._edges[rel]
        except KeyError:
            log.info("no ConceptNet edges with rel %r for %r",
                     rel, self.term)
            return None


# ---------------------------------------------------------------------------
# Spark batch path
# ---------------------------------------------------------------------------

#: Flat edge schema for the DataFrame path: one row per (term, edge).
EDGE_COLUMNS = ("term", "rel", "start_label", "end_label", "weight",
                "dataset", "edge_id", "surface_text")


def _flatten(term: str, indexed: Mapping[str, Iterable[Mapping]]):
    for rel, recs in indexed.items():
        for rec in recs:
            yield (term, rel,
                   rec["start"].get("label"),
                   rec["end"].get("label"),
                   float(rec["weight"]),
                   rec["dataset"],
                   rec["id"],
                   rec["surfaceText"])


def conceptnet_edges(spark, terms_df, term_col: str = "term",
                     fetch: Optional[Fetch] = None,
                     max_terms: int = 100_000):
    """Fetch ConceptNet edges for every distinct term in ``terms_df``.

    Scale shape: ``select(term).distinct().collect()`` — bounded by
    VOCABULARY, not corpus size (the lexicon/stem space a KG run feeds
    here grows sub-linearly; ``max_terms`` is the explicit guard, and
    exceeding it raises rather than silently truncating).  Each unique
    term is fetched once through ``fetch`` (cached across duplicates),
    and the result is a small DataFrame of :data:`EDGE_COLUMNS` rows —
    broadcast-join it back to the corpus; the big side never sees the
    transport.

    ``fetch`` omitted falls back to the live :func:`http_fetch`; no
    pipeline or test in this repo relies on that fallback — offline
    callers supply their own transport (a dict lookup over a cached
    edge table is the expected production shape).
    """
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from ie_spark.session import local_frame

    the_fetch = fetch if fetch is not None else http_fetch
    # collapse spelling variants BEFORE distinct so the shuffle dedupes
    # them; \s covers tabs/newlines that F.trim (ASCII space only)
    # would keep
    norm = F.lower(F.regexp_replace(F.col(term_col), r"^\s+|\s+$", ""))
    terms = [r[0] for r in
             terms_df.select(norm.alias("term"))
             .where(F.col("term").isNotNull() & (F.col("term") != ""))
             .distinct().limit(max_terms + 1).collect()]
    if len(terms) > max_terms:
        raise ValueError(
            f"conceptnet_edges: >{max_terms} distinct terms — this is a "
            "vocabulary-bounded dimension fetch, not a corpus scan; "
            "pre-aggregate or raise max_terms deliberately")

    # re-apply the reference's exact Python-side policy (str.strip()
    # also covers unicode whitespace the JVM regex class may not) and
    # dedupe once more in case the two passes disagree
    rows = []
    seen = set()
    for term in (t.strip().lower() for t in terms):
        if not term or term in seen:
            continue
        seen.add(term)
        rows.extend(_flatten(term, process_edges(the_fetch(term))))

    schema = T.StructType([
        T.StructField("term", T.StringType()),
        T.StructField("rel", T.StringType()),
        T.StructField("start_label", T.StringType()),
        T.StructField("end_label", T.StringType()),
        T.StructField("weight", T.DoubleType()),
        T.StructField("dataset", T.StringType()),
        T.StructField("edge_id", T.StringType()),
        T.StructField("surface_text", T.StringType()),
    ])
    return local_frame(spark, rows, schema)
