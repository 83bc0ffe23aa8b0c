"""Tree building: the open-stack invariant and linear worst cases.

Tree repair (``DocBuilder.pop`` and the native core's ``repair()``) runs
no re-parent pass after it pops (the reference's dom.ts:733-738
re-parents the whole stack and recounts math/svg after every pop).  That
is sound only while every stack entry's parent is the entry below it and
``in_math_or_svg`` equals the number of math/svg entries on the stack; the
first test checks both after every ``DocBuilder.pop`` call of the general
machine, and, for the native core, which repairs in C, at the end of
every prefix that ends just after an end tag.  The second pins
the two page shapes that took quadratic time while the parser still made
that pass and the never-true ``<?xml`` check, the nested-list and
implied-``</p>`` shapes, and two long lines parsed with positions and
every node's line, column, end line and end column read (the lookup once
rescanned the line from its start on every call): 4x the input must cost
at most 6x the time, through the native core and the general machine.
"""
import gc
import math
import re
import signal
import time

import pytest

import fortissimo_spark.parser as P
from fortissimo_spark.dom import N_PARENT, N_TAG_LC, DocBuilder
from fortissimo_spark.parser import parse
from tests.parser_fixtures import FIXTURES, table_soups
from tests.test_parser_fastpaths import generated_docs


def _check_stack(b):
    nodes = b.nodes
    stack = b.open_stack
    assert stack[0] == 0
    for below, node in zip(stack, stack[1:]):
        assert nodes[node][N_PARENT] == below, (stack, node)
    assert b.in_math_or_svg == sum(
        nodes[node][N_TAG_LC] in ("math", "svg") for node in stack)


_END_TAG = re.compile(r"</[^<>]*>")


@pytest.mark.parametrize("machine", ["native", "general"])
def test_open_stack_invariant_after_every_pop(monkeypatch, machine):
    docs = (list(FIXTURES) + list(generated_docs(10_000))
            + list(table_soups(1_000)))
    if machine == "native":
        # the native core repairs the tree in C (repair() in _native.c)
        # and calls no DocBuilder.pop: check the stack at the end of every
        # prefix that ends just after an end tag, the state right after
        # that end tag's repair
        if not P.NATIVE:
            pytest.skip("no native core on this host")

        def repairs():
            counts = P._native.stats()
            return counts["end_unwind"] + counts["end_unmatched"]

        checked = 0
        for doc in docs:
            prev = 0
            for m in _END_TAG.finditer(doc):
                before = repairs()
                _check_stack(parse(doc[:m.end()], positions=False).dom)
                n = repairs() - before
                # the prefix's last end tag went through the core's repair
                checked += n > prev
                prev = n
        assert checked >= 5_000, checked
        return
    monkeypatch.setattr(P, "_NATIVE_SCAN", None)
    pop = DocBuilder.pop
    calls = [0]

    def checked_pop(self, *args, **kwargs):
        ok = pop(self, *args, **kwargs)
        calls[0] += 1
        _check_stack(self)
        return ok

    monkeypatch.setattr(DocBuilder, "pop", checked_pop)
    for doc in docs:
        _check_stack(parse(doc, positions=False).dom)
    assert calls[0] >= 5_000, calls


# Each shape at (n, 4n), parsed with or without positions (and then every
# position read).  The small case
# takes >= 20 ms on a 4-vCPU host; while pop re-parented the whole stack and
# every <?xml PI serialized the document, those two shapes grew about 18x
# per 4x.  While line_col sliced the line from its start on every call, the
# one-line shape grew about 12x per 4x, and the tab-heavy one stepped over
# the whole line in Python per call (over 20 s at n = 5,000).
_SHAPES = {
    # every </div> unwinds an open <b> (ROADMAP §2 shape 3)
    "unwind": (lambda n: "<div>" * n + "<b>x</div>" * n, 6_000, False),
    # <?xml PIs inside an element
    "xml_pi": (lambda n: "<html>" + "<?xml x>" * n, 16_000, False),
    # an <li> implies no close under an open <div>, so the items nest
    # (ROADMAP §2)
    "li_div": (lambda n: "<ul>" + "<li><div>x" * n, 4_000, False),
    # every <div> implicitly closes the open <p> (ROADMAP §2)
    "div_p": (lambda n: "<div><p>x" * n, 6_000, False),
    # one line of elements, every node's positions read
    "line_positions": (lambda n: "<p>x</p>" * n, 20_000, True),
    # the same with tabs, whose column depends on everything before them
    "tab_line_positions": (lambda n: "<p>\tx\t</p>" * n, 5_000, True),
}
# one parse is cut off after this long (the quadratic builds ran for
# minutes at these sizes; a cut parse counts as infinitely slow)
_BUDGET_S = 10.0


class _OverBudget(Exception):
    pass


def _over_budget(signum, frame):
    raise _OverBudget


def _parse_seconds(doc, positions):
    # timed with the cyclic GC paused, as the extract kernel parses: a
    # collection landing in one run and not the other is noise here; with
    # positions, reading every node's positions is timed too
    old = signal.signal(signal.SIGALRM, _over_budget)
    gc.collect()
    gc.disable()
    try:
        signal.setitimer(signal.ITIMER_REAL, _BUDGET_S)
        t0 = time.perf_counter()
        b = parse(doc, positions=positions).dom
        if positions:
            for i in range(len(b.nodes)):
                b.line_col(i)
                b.line_col(i, end=True)
        return time.perf_counter() - t0
    except _OverBudget:
        return math.inf
    finally:
        signal.setitimer(signal.ITIMER_REAL, 0)
        signal.signal(signal.SIGALRM, old)
        gc.enable()


@pytest.mark.parametrize("shape,machine", [
    (shape, machine) for shape in sorted(_SHAPES)
    for machine in ("native", "general")])
def test_tree_building_scales_linearly(monkeypatch, shape, machine):
    """4x the input costs at most 6x the time (min of 5 runs each).  A
    shared host can stall one side of a pair, so a failing pair is
    measured once more before the test fails; a quadratic build fails
    both (its ratio is about 18 for the tree-building shapes)."""
    if machine == "native" and not P.NATIVE:
        pytest.skip("no native core on this host")
    if machine == "general":
        monkeypatch.setattr(P, "_NATIVE_SCAN", None)
    make, n, positions = _SHAPES[shape]
    small, big = make(n), make(4 * n)
    for _ in range(2):
        t_small = min(_parse_seconds(small, positions) for _ in range(5))
        assert t_small < math.inf, f"{shape}/{machine}: over {_BUDGET_S} s"
        t_big = min(_parse_seconds(big, positions) for _ in range(5))
        if t_big <= 6 * t_small:
            return
    pytest.fail(f"{shape}/{machine}: 4x input took {t_big / t_small:.1f}x "
                f"the time ({t_small * 1e3:.1f} ms -> {t_big * 1e3:.1f} ms)")
