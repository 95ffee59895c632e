"""Adversarial input families for the HTML tokenizer: parse time at n
and at 4n must grow about linearly (ratio ≤ 6, against 16 for a
quadratic parser), and stay under a µs-per-byte ceiling."""

import time

import pytest

from webextract import dom

N = 5000

FAMILIES = {
    # every close tag misses the whole open-element stack: quadratic
    # when each one scans the stack (68 s at 480 KB)
    "unmatched_close": lambda n: "<div>" * n + "x" + "</span>" * n,
    # deep nesting closed from the outside in: one pop per element
    "nested_then_closed": lambda n: "<div><a>" * n + "x" + "</div>",
    # stray '<' runs and nameless close tags between text
    "stray_lt": lambda n: "a < b </> " * n,
    # quoted attribute values holding '>' and quotes of the other kind
    "quoted_attrs": lambda n: "<p title='a>b\"' data-x=\"c>'d\">t</p>" * n,
}


def _best_time(payload: bytes, reps: int = 3) -> float:
    best = float("inf")
    for _ in range(reps):
        t0 = time.perf_counter()
        dom.parse_html(payload)
        best = min(best, time.perf_counter() - t0)
    return best


@pytest.mark.parametrize("family", sorted(FAMILIES))
def test_parse_html_is_linear(family):
    small = FAMILIES[family](N).encode()
    large = FAMILIES[family](4 * N).encode()
    t_small, t_large = _best_time(small), _best_time(large)
    assert t_large / t_small <= 6, (family, t_small, t_large)
    assert t_large * 1e6 / len(large) < 5, (family, t_large, len(large))
