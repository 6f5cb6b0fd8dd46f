"""Round-13 (VERDICT r12 #5): measure relaxed BPE at the 32k-merge
production point end-to-end — the last extrapolated rung of the
`bpebig` table. Reuses scale_probe.bpe_big_probe verbatim (same corpus,
same prefix pin) and re-writes the SCALEPROBE section with the two
committed r12 rows PLUS the new measured 32768 row, so the table keeps
all three rungs and the exponent is re-fit over four points
(4096 anchor + 8192 + 16384 + 32768).
"""
from __future__ import annotations

import json
import sys
from pathlib import Path

REPO = str(Path(__file__).resolve().parent)
if REPO not in sys.path:
    sys.path.insert(0, REPO)

from scale_probe import SCALEPROBE, bpe_big_probe, bpe_big_section, write_section  # noqa: E402

from clickhouse_realtime_analytics_demo_spark.session import get_spark  # noqa: E402

# The committed r12 rungs (SCALEPROBE.md "Relaxed BPE at production
# merge counts"); kept verbatim so the re-spliced table shows all rungs.
R12_ROWS = [
    {
        "docs": 120_000, "vocab": None, "merges": 8192, "batch": 256,
        "wall_s": 2817.9, "rounds": 33, "s_per_round": 85.39,
        "recount_s": 65.4, "fold_s": 2750.4, "recount_share_pct": 2.3,
        "prefix_pin": 512, "prefix_ok": True,
    },
    {
        "docs": 120_000, "vocab": None, "merges": 16384, "batch": 256,
        "wall_s": 4889.7, "rounds": 65, "s_per_round": 75.23,
        "recount_s": 58.2, "fold_s": 4827.7, "recount_share_pct": 1.2,
        "prefix_pin": 512, "prefix_ok": True,
    },
]


def main() -> None:
    spark = get_spark(app_name="scale_probe_bpe_32k")
    rows = bpe_big_probe(spark, merge_counts=(32768,))
    spark.stop()
    all_rows = R12_ROWS + rows
    write_section(SCALEPROBE, *bpe_big_section(all_rows))
    Path("bpe32k_result.json").write_text(json.dumps(rows[0], indent=1))
    print(json.dumps({"done": True, "row": rows[0]}), flush=True)


if __name__ == "__main__":
    main()
