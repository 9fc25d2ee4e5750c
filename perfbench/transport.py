"""Deterministic paginated-API transport over a landed postings file.

``sources.paginated_api`` resolves a transport by ``module:function``
name on its executors. This one serves ``offset``/``limit`` slices of
a JSON array the benchmark landed at set-up; the URL is
``feed://<path to the JSON file>``.
"""

from __future__ import annotations

import json

PREFIX = "feed://"


def feed_url(path: str) -> str:
    return PREFIX + path


def postings_page(base_url: str, offset: int, limit: int) -> list[dict]:
    if not base_url.startswith(PREFIX):
        raise ValueError(f"not a feed url: {base_url!r}")
    with open(base_url[len(PREFIX):]) as f:
        rows = json.load(f)
    return rows[offset: offset + limit]
