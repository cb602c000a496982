"""Cross-check SURVEY.md §2 operator IDs against the implemented surface.

Prints one line per §2 inventory ID with the queries()/module artifact that
covers it, and exits nonzero if any ID is unaccounted for. IDs covered by
library code rather than a catalog query name the covering symbol.
"""

from __future__ import annotations

import re
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from caseguarddatapipeline_spark.catalog import build_catalog  # noqa: E402

# §2 IDs covered by library modules instead of a named query.
LIBRARY_COVERAGE = {
    "S1": "sources/connectors.csv_case_scan",
    "S2": "sources/connectors.yaml_case_list_scan",
    "S3": "operators/inference mapInPandas fetch shape (stubbed)",
    "S5": "sources/connectors.read_binary_documents",
    "S6": "sources/connectors.write_partitioned/read_partition",
    "S7": "sources/tables.load_table (+computed cols in a3/f14)",
    "S8": "operators/incremental.merge_upsert (t2/t9)",
    "S9": "streaming/jobs (queue sink via retry re-append)",
    "S10": "streaming/jobs.run_jobs_stream (file-stream source)",
    "S11": "config.load_tenant_config + broadcast_config",
    "S12": "s12_postings_search",
    "S13": "sources/connectors.export_metrics",
    "F16": "scalar2.f16_base64_roundtrip",
    "F19": "config.resolve_env_templates",
    "U4": "inference.make_text_extractor rate-limit seam + resilience.Resilient",
    "T1": "j4_watermark_updates + streaming/stateful.track_watermarks",
    "T3": "streaming/jobs.run_jobs_stream",
    "T4": "streaming/jobs (retry + DLQ routing)",
    "T5": "streaming/jobs maxBytesPerTrigger",
    "T6": "streaming/metrics.HealthListener",
    "T7": "scheduler concern (Trigger.AvailableNow in streaming runs)",
    "T8": "lifecycle concern (query.stop; not a data op)",
}

INVENTORY = {
    "S": range(1, 14),
    "P": range(1, 9),
    "J": range(1, 10),
    "A": range(1, 22),
    "W": range(1, 10),
    "F": range(1, 21),
    "N": range(1, 7),
    "U": range(1, 7),
    "T": range(1, 10),
    "E": range(1, 5),
}


def main() -> int:
    queries, oracles = build_catalog()
    missing = []
    for prefix, ids in INVENTORY.items():
        for i in ids:
            ident = f"{prefix}{i}"
            by_query = sorted(
                n for n in queries if re.match(rf"^{ident.lower()}_", n)
            )
            if prefix == "E":  # E-groups have many queries per id
                by_query = sorted(n for n in queries if n.startswith(f"e{i}_"))
            if by_query:
                kind = "oracle" if any(n in oracles for n in by_query) else "rows-only"
                print(f"{ident:>4}  {kind:9}  {', '.join(by_query)}")
            elif ident in LIBRARY_COVERAGE:
                print(f"{ident:>4}  library    {LIBRARY_COVERAGE[ident]}")
            else:
                missing.append(ident)
                print(f"{ident:>4}  MISSING")
    print(f"\n{len(queries)} queries ({len(oracles)} oracle-checked); "
          f"{len(missing)} inventory IDs missing")
    return 1 if missing else 0


if __name__ == "__main__":
    raise SystemExit(main())
