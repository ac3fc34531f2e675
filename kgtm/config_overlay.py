"""Per-row config overlay — the proxy-auth mechanism as columns.

Reference: clients smuggle a per-request config through the
Proxy-Authorization header — base64("<cli-flags>:<password>"), decoded at
proxy_wrapper.py:134-151 (only `basic` accepted) and re-parsed through
argparse into a full Config at proxy_logic.py:65-86 + config.py:141-337.

Batch translation: an `auth_header` column → decoded flag string → a
`cfg` struct column (onto_version, format, precedence, restricted) that
overlays the job-level config per row. Pure function is the spec; the column
expression is the hot path (unbase64 + regexp pulls — no UDF).
"""

from __future__ import annotations

import base64

from pyspark.sql import Column
from pyspark.sql import functions as F

DEFAULTS = {
    "onto_version": "originalFailoverLiveLatest",
    "format": "turtle",
    "precedence": "enforcedPriority",
    "restricted": False,
}

_FLAGS = {
    "--ontoVersion": "onto_version",
    "--ontoFormat": "format",
    "--ontoPrecedence": "precedence",
}


def parse_auth_config(auth_header: str | None) -> dict | None:
    """Pure spec: 'basic <b64(user:pass)>' → config dict (None if absent/bad).

    The username IS the CLI string (proxy_wrapper.py:147-151); unknown flags
    are ignored, --restrictedAccess is a bare switch.
    """
    if not auth_header:
        return None
    parts = auth_header.split(" ", 1)
    if len(parts) != 2 or parts[0].lower() != "basic":
        return None
    try:
        decoded = base64.b64decode(parts[1]).decode("utf-8", "strict")
    except ValueError:
        # binascii.Error (bad base64), UnicodeDecodeError (not UTF-8) and the
        # plain ValueError b64decode raises on non-ASCII header text
        return None
    user = decoded.split(":", 1)[0]
    cfg = dict(DEFAULTS)
    toks = user.split()
    for i, t in enumerate(toks):
        if t in _FLAGS and i + 1 < len(toks):
            cfg[_FLAGS[t]] = toks[i + 1]
        elif t == "--restrictedAccess":
            cfg["restricted"] = True
    return cfg


def auth_config_col(auth: str | Column = "auth_header") -> Column:
    """struct(onto_version, format, precedence, restricted) — NULL when the
    header is missing or not basic-auth. Column-expression twin of
    parse_auth_config (regexp pulls over the decoded flag string)."""
    a = F.col(auth) if isinstance(auth, str) else auth
    is_basic = F.lower(F.split(a, " ")[0]) == "basic"
    payload = F.split(a, " ")[1]
    decoded = F.unbase64(payload).cast("string")
    user = F.split(decoded, ":")[0]

    def flag(name: str, default: str) -> Column:
        v = F.regexp_extract(user, rf"{name}\s+(\S+)", 1)
        return F.when(v == "", F.lit(default)).otherwise(v)

    struct = F.struct(
        flag("--ontoVersion", DEFAULTS["onto_version"]).alias("onto_version"),
        flag("--ontoFormat", DEFAULTS["format"]).alias("format"),
        flag("--ontoPrecedence", DEFAULTS["precedence"]).alias("precedence"),
        user.rlike(r"--restrictedAccess").alias("restricted"),
    )
    return F.when(a.isNotNull() & is_basic & (F.size(F.split(a, " ")) == 2), struct)


def overlay_mode_col(cfg: Column, job_default: str) -> Column:
    """Effective onto_version: per-row overlay else job config
    (custom_proxy.py:79-101 semantics)."""
    return F.coalesce(cfg["onto_version"], F.lit(job_default))
