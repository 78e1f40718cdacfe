"""The benchmark's workloads: which queries run, on what inputs, and why."""
from __future__ import annotations

from dataclasses import dataclass

from datagen import Sizes


@dataclass(frozen=True)
class Workload:
    name: str
    queries: tuple[str, ...]  # issued in this order by one driver thread
    sizes: Sizes
    rows_tables: tuple[str, ...]  # input tables whose rows rows_per_s counts
    why: str


WORKLOADS: dict[str, Workload] = {
    w.name: w
    for w in (
        Workload(
            name="convert",
            queries=("q290_convert_pipeline", "q130_tei_structure_roundtrip"),
            # words per document sets the tokens the cascade windows scan;
            # the spread is the test tables' (10-99), the document count is
            # a quarter of sf0.01's 500 to fit the run budget (DESIGN.json)
            sizes=Sizes(docs=120, words_min=10, words_max=99, dup_share=0.05),
            rows_tables=("documents",),
            why="PDF corpus to TEI: binaryFile scan, pdfalto sidecar, ALTO "
                "parse, labelling cascade with checkpoints, TEI sink; "
                "rows_per_s counts documents rows",
        ),
        Workload(
            name="ingest",
            queries=(
                "q140_streaming_session_window",
                "q300_manifest_merge_upsert",
            ),
            # user cardinality sets the session-window state rows; the
            # sizes are sf0.01's (500 documents, 10,000 events, 150 users)
            sizes=Sizes(docs=500, words_min=10, words_max=99, events=10_000,
                        users=150, dup_share=0.05),
            rows_tables=("events", "documents"),
            why="write side: bounded micro-batch stream with a session-window "
                "state store, then sharded writes under a versioned manifest "
                "commit; rows_per_s counts events plus documents rows",
        ),
    )
}
