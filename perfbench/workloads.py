"""The benchmark's workloads: inputs, query steps, and why each exists."""

from __future__ import annotations

from dataclasses import dataclass

from perfbench.gen import DocShape


@dataclass(frozen=True)
class Step:
    """One registry query and how its result is materialized: ``collect``
    into this process, or written through ``sources.io`` as ``parquet`` or as
    the reference's tab-separated text (``tsv``)."""

    name: str
    sink: str = "collect"


@dataclass(frozen=True)
class Workload:
    name: str
    why: str
    docs: DocShape
    steps: tuple[Step, ...]


#: ``n_docs``: per query 0.3-0.7 s, two to five times the 0.15 s the
#: 5,000-document fixture corpus takes, and at this size a traced pass
#: (about 2.2 s on 4 idle cores) spends 84% in execution (scan, shuffle, sink;
#: the sinks alone 54%) and 10% in plan building.  A larger corpus moves
#: that split little (16,000 documents: 83% / 11%; 32,000: 87% / 8%) but
#: lengthens a pass, so a run would time fewer of them.
#: ``vocab``: Heaps' law, V = K * N**b with K in 10-100 and b in 0.4-0.6
#: (Baeza-Yates and Ribeiro-Neto, Modern Information Retrieval); K = 30 and
#: b = 0.5 give 20,000 words for this corpus's 436,000 tokens.
#: ``source_zipf``: pages per web site follow Zipf's law with an exponent
#: near 1 (Adamic and Huberman, "Zipf's law and the Internet", Glottometrics
#: 3, 2002), which skews the per-source counts across partitions.
WORDCOUNT_ETL = Workload(
    name="wordcount_etl",
    why="the reference word count end to end on a Zipf corpus: scan, shuffle and sink bound, with little plan building",
    docs=DocShape(n_docs=8_000, vocab=20_000, source_zipf=1.0),
    steps=(
        Step("wordcount"),
        Step("wordcount_by_source", "parquet"),
        Step("wordcount_provenance", "tsv"),
        Step("topk_words"),
    ),
)

#: ``n_docs``: the live query costs over 4 s whatever its input (60
#: documents: 4.7 s, 120: 5.3 s, 240: 6.7 s, 500: 11.8 s), of which its
#: two micro-batches inside the registry call take about 3 s.  At 120
#: documents a pass is about 7 s, two passes fit one run, and building
#: (the micro-batches) is three quarters of a pass.  The vocabulary and sources are
#: the fixture's.
#: ``dup_rate``: one document in ten is an edited copy, so that both the
#: screen and the live stream report matches on every seed (a rows-only
#: query must return rows) and the state store holds matched buckets.
STREAM_INGEST = Workload(
    name="stream_ingest",
    why="the live near-duplicate ingest stream beside its batch twin: micro-batches, state store and Spark jobs fired while building",
    docs=DocShape(n_docs=120, dup_rate=0.1),
    steps=(Step("ingest_neardup_live"), Step("ingest_neardup_screen")),
)

WORKLOADS = {w.name: w for w in (WORDCOUNT_ETL, STREAM_INGEST)}
