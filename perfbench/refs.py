"""Independent correctness references, computed outside the timed region.

The knowledge-graph reference is ``wbkg.oracle.oracle_pipeline``: plain
Python dicts, sets and union-find over the same generated documents. It
reads documents through its module-level ``gen_doc``, so the document weight
is bound there for the duration of one call.
"""

from __future__ import annotations

import contextlib
import functools

from wbkg import oracle, synth
from wbkg.materialize import EX


@contextlib.contextmanager
def _weighted_docs(weight: int):
    orig = oracle.gen_doc
    oracle.gen_doc = functools.partial(synth.gen_doc, weight=weight)
    try:
        yield
    finally:
        oracle.gen_doc = orig


def pipeline_triples(n_docs: int, seed: int, weight: int, with_metadata: bool = True) -> set:
    """The full batch edge set of ``run_pipeline`` as (subj, pred, obj)."""
    with _weighted_docs(weight):
        return oracle.oracle_pipeline(n_docs, seed, with_metadata=with_metadata)


def entity_triples(n_docs: int, seed: int, weight: int) -> set:
    """The C6 subset (entity type/name/label and document mentions) — what
    the streaming ingest writes. Without metadata, everything else in the
    oracle's output is a chunk triple."""
    chunk = EX + "chunk/"
    return {
        t for t in pipeline_triples(n_docs, seed, weight, with_metadata=False)
        if not t[0].startswith(chunk)
    }


def edge_set(df) -> set:
    """Collect a Spark edges frame as a set of (subj, pred, obj)."""
    pdf = df.select("subj", "pred", "obj").toPandas()
    return set(zip(pdf["subj"], pdf["pred"], pdf["obj"]))


def diff_note(got: set, want: set) -> str:
    missing, extra = want - got, got - want
    note = f"{len(got)} triples, want {len(want)}: {len(missing)} missing, {len(extra)} extra"
    for label, s in (("missing", missing), ("extra", extra)):
        if s:
            note += f"; e.g. {label} {min(s)!r:.200}"
    return note
