"""Env-driven job configuration (reference S3 parity, main.py:542-583).

Same surface: every knob is an env var with a ``.env``-style file
fallback; list-valued vars are comma-split; missing REQUIRED vars
fail fast at startup. Two reference bugs deliberately NOT reproduced
(SURVEY.md §2a): legitimately-empty optional vars are not fatal
(main.py:580 treats them as fatal), and splitting an empty list var
yields [] rather than [''] (main.py:555-557).
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

REQUIRED_VARS = (
    "KAFKA_BOOTSTRAP_SERVERS",
    "KAFKA_TOPIC",
    "SINK_URL",
    "SINK_TABLE",
)


def _split_list(raw: str | None) -> list[str]:
    if not raw:
        return []
    return [p.strip() for p in raw.split(",") if p.strip()]


def _non_negative_int(var: str, raw: str) -> int:
    """Fail fast with the VARIABLE NAME on junk or negative values —
    a bare int() error or a Spark-internal IllegalArgumentException at
    stream start would not say which env var is wrong."""
    try:
        val = int(raw)
    except ValueError:
        raise ValueError(f"{var} must be an integer, got {raw!r}") from None
    if val < 0:
        raise ValueError(f"{var} must be >= 0, got {val}")
    return val


def load_env_file(path: str) -> dict[str, str]:
    """Minimal .env parser (KEY=VALUE lines, # comments)."""
    out: dict[str, str] = {}
    if not os.path.exists(path):
        return out
    with open(path) as f:
        for line in f:
            line = line.strip()
            if not line or line.startswith("#") or "=" not in line:
                continue
            k, v = line.split("=", 1)
            out[k.strip()] = v.strip().strip("'\"")
    return out


@dataclass(frozen=True)
class JobConfig:
    kafka_bootstrap_servers: str
    kafka_topic: str
    sink_url: str
    sink_table: str
    dlq_topic: str = ""
    starting_offsets: str = "latest"  # auto.offset.reset (main.py:494)
    max_offsets_per_trigger: int = 25_000  # NUM_MESSAGES (main.py:569)
    # source-side fan-out: split each trigger's offset ranges into at
    # least this many tasks (0 = Spark's 1:1 topic-partition mapping);
    # the shuffle-free sibling of PipelineJob's automatic fan-out
    kafka_min_partitions: int = 0
    checkpoint_dir: str = "/tmp/pipeline-checkpoint"
    required_columns: list[str] = field(default_factory=list)
    string_enum_columns: list[str] = field(
        # reference default (main.py:557)
        default_factory=lambda: ["gps_validity", "incognito_mode"]
    )
    datetime_columns: list[str] = field(default_factory=list)

    @classmethod
    def from_env(
        cls, env: dict[str, str] | None = None, env_file: str = ".env"
    ) -> "JobConfig":
        """Assemble from process env with .env fallback; fail fast if a
        required var is missing (main.py:580-581 semantics, minus the
        empty-optional-is-fatal bug)."""
        e = {**load_env_file(env_file), **(env or os.environ)}
        missing = [v for v in REQUIRED_VARS if not e.get(v)]
        if missing:
            raise ValueError(f"missing required env vars: {missing}")
        return cls(
            kafka_bootstrap_servers=e["KAFKA_BOOTSTRAP_SERVERS"],
            kafka_topic=e["KAFKA_TOPIC"],
            sink_url=e["SINK_URL"],
            sink_table=e["SINK_TABLE"],
            dlq_topic=e.get("KAFKA_DLQ_TOPIC", ""),
            starting_offsets=e.get("KAFKA_OFFSET_RESET", "latest"),
            max_offsets_per_trigger=int(e.get("NUM_MESSAGES", "25000")),
            kafka_min_partitions=_non_negative_int(
                "KAFKA_MIN_PARTITIONS", e.get("KAFKA_MIN_PARTITIONS", "0")
            ),
            checkpoint_dir=e.get("CHECKPOINT_DIR", "/tmp/pipeline-checkpoint"),
            required_columns=_split_list(e.get("REQUIRED_COLUMNS")),
            string_enum_columns=_split_list(
                e.get("STRING_ENUM_COLUMNS", "gps_validity,incognito_mode")
            ),
            datetime_columns=_split_list(e.get("DATETIME_COLUMNS")),
        )
