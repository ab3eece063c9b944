"""Write BENCHMARK.json from the code, so that it names exactly the
workloads that run and the metrics they emit.

  python3 perfbench/spec.py > BENCHMARK.json
"""

from __future__ import annotations

import json
import os
import sys

RUN_SECONDS = 10


def benchmark_json() -> dict:
    from perfbench.report import END_TO_END, per_layer_spec
    from perfbench.workloads import WORKLOADS, ContractSuite

    return {
        "command": ["python3", "perfbench/run.py"],
        "paths": ["perfbench"],
        "run_seconds": RUN_SECONDS,
        "workloads": [{"name": w.name, "why": w.why} for w in WORKLOADS.values()],
        "end_to_end": [
            {"name": n, "unit": u, "better": b, "bound": bound} for n, u, b, bound in END_TO_END
        ],
        "per_layer": [
            {"name": n, "unit": u, "better": b} for n, u, b in per_layer_spec(ContractSuite.QUERIES)
        ],
    }


if __name__ == "__main__":
    sys.path[:] = [os.path.dirname(os.path.dirname(os.path.abspath(__file__)))] + sys.path[1:]
    print(json.dumps(benchmark_json(), indent=2))
