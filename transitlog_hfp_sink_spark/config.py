"""Configuration (SURVEY §2.1 S2 parity).

The reference reads HOCON with env-var overrides and a DB connection
string from a Docker secret file (Main.java:18,24-25, environment.conf,
README.md:40-41). Same surface here: defaults <- env overrides <- explicit
kwargs, secrets from file or env.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, fields

_DEFAULT_SECRET_PATH = "/run/secrets/db_conn_string"  # README.md:40-41

#: default <- env-var mapping (environment.conf:1-20)
_ENV = {
    "dump_interval_s": "DUMP_INTERVAL",
    "max_rows_per_trigger": "MAX_ROWS_PER_TRIGGER",
    "checkpoint": "CHECKPOINT_LOCATION",
}


@dataclass
class PipelineConfig:
    dump_interval_s: float = 1.0  # environment.conf:18-19
    # F2 replacement: the reference drops rows when its buffer passes
    # 250 000 (MessageProcessor.java:28,103-110); the app passes this to the
    # pulsar/kafka source as its per-trigger rate limit, which bounds memory
    # without data loss
    max_rows_per_trigger: int = 250_000
    checkpoint: str = "/tmp/hfp-checkpoint"

    @classmethod
    def from_env(cls, **overrides) -> "PipelineConfig":
        kwargs = {}
        for f in fields(cls):
            env_name = _ENV.get(f.name)
            if env_name and env_name in os.environ:
                raw = os.environ[env_name]
                typ = type(getattr(cls, f.name, ""))
                kwargs[f.name] = typ(raw) if typ in (int, float) else raw
        kwargs.update(overrides)
        return cls(**kwargs)


def connection_string_from_file_or_env(
    path: str = _DEFAULT_SECRET_PATH, env_var: str = "DB_CONN_STRING"
) -> str:
    """Secret handling parity (Main.java:24-25): file first, env fallback,
    raise when neither exists."""
    if os.path.exists(path):
        with open(path) as f:
            return f.read().strip()
    if env_var in os.environ:
        return os.environ[env_var]
    raise FileNotFoundError(
        f"no DB connection string: neither {path} nor ${env_var} present"
    )
