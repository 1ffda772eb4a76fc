"""Per-stage metrics (SURVEY B10): named records of stage wall time and
whatever counts the caller already has; ``harvest`` returns them for the
caller to serialize as one JSON object.
The reference only has wall-clock printfs (``Duke/utils.py:52-57``,
``Duke/DukeRestListener.py:64``).
"""

from __future__ import annotations

import time
from typing import Dict


class StageMetrics:
    def __init__(self):
        self.stages: Dict[str, dict] = {}

    def harvest(self) -> Dict[str, dict]:
        return self.stages

    def record(self, stage: str, **kv) -> None:
        self.stages.setdefault(stage, {}).update(kv)

    def time_stage(self, stage: str):
        metrics = self

        class _Timer:
            def __enter__(self):
                self.t0 = time.time()
                return self

            def __exit__(self, *exc):
                metrics.record(stage, wall_seconds=time.time() - self.t0)

        return _Timer()
