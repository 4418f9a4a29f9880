"""Resource specs + annotation hygiene — the capacitymanager/job-util plane.

Mapping:
- ResourceUsageConfig strings ("500m" cpu, "2Gb" memory) parsed to floats /
  bytes (`pkg/capacitymanager/types.go:5-27`, parsing in
  `pkg/capacitymanager/capacitymanager.go:61-179`). In a Spark engine these
  become session configs (`spark.executor.cores/memory`,
  `spark.task.resource.gpu.amount`), so the parse + validate step is what
  survives.
- Annotation sanitizing (`pkg/job/util.go:8-23`): labels restricted to a
  safe charset; everything else stripped. The reference additionally strips
  emoji by table — a regex class covers the same plane here.
"""

from __future__ import annotations

import re

# k8s-style CPU: "500m" = 0.5 cores, "2" = 2 cores, "100u" micro-cores.
_CPU_SUFFIX = {"m": 1e-3, "u": 1e-6, "n": 1e-9}
# IEC + SI byte suffixes, case-insensitive ("2Gb" in the reference's docs
# means gibibytes, matching its go-humanize parse).
_MEM_SUFFIX = {
    "b": 1, "k": 1 << 10, "kb": 1 << 10, "m": 1 << 20, "mb": 1 << 20,
    "g": 1 << 30, "gb": 1 << 30, "t": 1 << 40, "tb": 1 << 40,
}

_ANNOTATION_RE = re.compile(r"[^A-Za-z0-9_:|-]")


def parse_cpu(s: str | float | int) -> float:
    """'500m' -> 0.5, '2' -> 2.0. Raises ValueError on junk."""
    if isinstance(s, (int, float)):
        return float(s)
    s = s.strip().lower()
    if not s:
        return 0.0
    if s[-1] in _CPU_SUFFIX:
        return float(s[:-1]) * _CPU_SUFFIX[s[-1]]
    return float(s)


def parse_memory(s: str | int) -> int:
    """'2Gb' -> 2147483648 bytes. Raises ValueError on junk."""
    if isinstance(s, int):
        return s
    s = s.strip().lower()
    if not s:
        return 0
    m = re.fullmatch(r"([0-9]*\.?[0-9]+)\s*([a-z]*)", s)
    if not m:
        raise ValueError(f"unparseable memory spec {s!r}")
    value, suffix = float(m.group(1)), m.group(2)
    if suffix and suffix not in _MEM_SUFFIX:
        raise ValueError(f"unknown memory suffix {suffix!r} in {s!r}")
    return int(value * _MEM_SUFFIX.get(suffix, 1))


def sanitize_annotation(s: str) -> str:
    """Keep [A-Za-z0-9_:|-]; strip everything else (spaces, emoji, control
    chars) — the label-sanitizer contract fuzzed by the reference's
    bad_strings corpus."""
    return _ANNOTATION_RE.sub("", s)


def to_spark_conf(resources: dict) -> dict[str, str]:
    """ResourceUsageConfig -> Spark conf fragment. Unknown keys rejected so
    bad specs fail at submit, not at cluster hand-off."""
    known = {"cpu", "memory", "disk", "gpu"}
    bad = set(resources) - known
    if bad:
        raise ValueError(f"unknown resource keys {sorted(bad)}")
    out: dict[str, str] = {}
    if "cpu" in resources:
        cores = parse_cpu(resources["cpu"])
        out["spark.executor.cores"] = str(max(1, round(cores)))
    if "memory" in resources:
        mem_bytes = parse_memory(resources["memory"])
        out["spark.executor.memory"] = f"{max(1, mem_bytes >> 20)}m"
    if "gpu" in resources:
        out["spark.task.resource.gpu.amount"] = str(int(resources["gpu"]))
    return out
