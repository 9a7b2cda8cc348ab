"""Read requests: the seven request types and the dashboard panel set.

A request is a dict with ``kind``, ``endpoint``, ``params`` (the query
string), ``series`` (ids of the series it must cover) and, for renders,
``window`` ``[from, until]``.
"""

from __future__ import annotations

import random

KINDS = (
    "find_prefix",
    "render_literal",
    "render_prefix_glob",
    "render_suffix_glob",
    "render_tagged",
    "render_function",
    "render_rolled_month",
)


def _plain_series(corpus, rng: random.Random) -> int:
    while True:
        i = rng.randrange(corpus.n)
        if i not in corpus.tagged:
            return i


def prefix_series(corpus, h: int, p: int) -> list[int]:
    """Plain series matched by ``loadtest.host<h>.plugin<p>.stuff1*.value``."""
    base = (h * corpus.plugins + p) * corpus.stuffs
    return [
        base + v
        for v in range(corpus.stuffs)
        if str(v).startswith("1") and base + v not in corpus.tagged
    ]


def find_nodes(corpus, h: int, p: int) -> list[str]:
    """Nodes ``/metrics/find?query=loadtest.host<h>.plugin<p>.*`` returns."""
    base = (h * corpus.plugins + p) * corpus.stuffs
    return sorted(
        f"loadtest.host{h}.plugin{p}.stuff{v}"
        for v in range(corpus.stuffs)
        if base + v not in corpus.tagged
    )


def build(corpus, kind: str, rng: random.Random, window, rolled_window) -> dict:
    i = _plain_series(corpus, rng)
    h, p, v = corpus.coords(i)
    if kind == "find_prefix":
        return {
            "kind": kind,
            "endpoint": "/metrics/find",
            "params": {"query": f"loadtest.host{h}.plugin{p}.*"},
            "series": [],
            "nodes": find_nodes(corpus, h, p),
        }
    if kind == "render_literal":
        target, series = corpus.name(i), [i]
    elif kind == "render_rolled_month":
        target, series = corpus.name(i), [i]
        window = rolled_window
    elif kind == "render_prefix_glob":
        target = f"loadtest.host{h}.plugin{p}.stuff1*.value"
        series = prefix_series(corpus, h, p)
    elif kind == "render_suffix_glob":
        target, series = f"*.host{h}.plugin{p}.stuff{v}.value", [i]
    elif kind == "render_tagged":
        j = rng.choice(sorted(corpus.tagged))
        tags = corpus.tags(j)
        target = "seriesByTag(" + ",".join(f"'{k}={tags[k]}'" for k in sorted(tags)) + ")"
        series = sorted(s for s in corpus.tagged if corpus.tags(s) == tags)
    elif kind == "render_function":
        target = f"summarize(sumSeries(loadtest.host{h}.plugin{p}.stuff1*.value),'1h','sum')"
        series = prefix_series(corpus, h, p)
    else:
        raise ValueError(f"unknown request kind {kind!r}")
    params = {"target": target, "from": window[0], "until": window[1], "format": "json"}
    if kind == "render_function":
        params["maxDataPoints"] = 100
    return {
        "kind": kind,
        "endpoint": "/render",
        "params": params,
        "series": series,
        "window": list(window),
    }


#: panel types by popularity rank, repeated down the ranks: eight cheap
#: single-series reads to four many-series ones, so about 83% of the
#: Zipf-weighted requests are cheap and the median read lies well inside
#: that latency mode, not in the gap between the two modes, where it
#: moves with every run
PANEL_ORDER = (
    "render_literal",
    "find_prefix",
    "render_rolled_month",
    "render_literal",
    "find_prefix",
    "render_prefix_glob",
    "render_rolled_month",
    "render_suffix_glob",
    "render_literal",
    "render_tagged",
    "find_prefix",
    "render_function",
)


def make_panels(corpus, seed: int, count: int, window, rolled_window) -> list[dict]:
    """A fixed dashboard: ``count`` panels cycling through
    ``PANEL_ORDER``, their series drawn once from the seed."""
    rng = random.Random(seed * 7919 + 1)
    return [
        build(corpus, PANEL_ORDER[n % len(PANEL_ORDER)], rng, window, rolled_window)
        for n in range(count)
    ]


def zipf_weights(count: int, s: float = 1.1) -> list[float]:
    return [1.0 / (rank + 1) ** s for rank in range(count)]
