"""Property-based tests (hypothesis) — SURVEY §5 item 3.

Pure-Python cores only (no Spark): fast enough to fuzz hundreds of cases.

Invariants:
  * V1 `balanced_tags` accepts every generated well-nested document and
    rejects the same document once its last closing tag is removed;
  * F4 `restore_closing_tags` is idempotent and append-only;
  * F3/F5 extraction is total (never raises) and strips every block grammar
    from the cleaned content;
  * J4 pairing conserves message counts, consumes each pending id at most
    once, and matches name-first before FIFO;
  * fuzzed parity: on random tag-soup documents our validator and extractor
    agree byte-for-byte with the actual reference implementation
    (filter_xml_errors.py / convert_spans_to_chatcompletion.py).
"""

from __future__ import annotations

import importlib.util
import os
import re

import pytest
from hypothesis import example, given, settings, strategies as st

from nexgap_spark.functions import validators as V
from nexgap_spark.functions.xml_tools import (
    extract_tool_calls,
    restore_closing_tags,
)
from nexgap_spark.operators.pairing import pair_tool_results
from tests import fixtures_xml as FX

REF_CONVERTER = "/root/reference/converter/trace/convert_spans_to_chatcompletion.py"
REF_VALIDATOR = "/root/reference/converter/trace/filter_xml_errors.py"

# ---------------------------------------------------------------------------
# Strategies
# ---------------------------------------------------------------------------

# Tag vocabulary: grammar tags the validators special-case, generic tags,
# a CJK name (V1 allows them), and an HTML void tag (exempt from balance).
NONVOID_TAGS = ["tool_use", "tool_name", "parameter", "think", "data", "结果"]

# Text that cannot accidentally open/close a tag.
safe_text = st.text(
    alphabet=st.characters(blacklist_characters="<>/", blacklist_categories=("Cs",)),
    max_size=20,
)


@st.composite
def nested_doc(draw, depth: int = 0) -> str:
    """Well-nested document: interleaved safe text and properly closed tags."""
    parts = []
    for _ in range(draw(st.integers(0, 3))):
        if depth >= 3 or draw(st.booleans()):
            parts.append(draw(safe_text))
        else:
            name = draw(st.sampled_from(NONVOID_TAGS))
            parts.append(f"<{name}>{draw(nested_doc(depth + 1))}</{name}>")
    return "".join(parts)


# Tag soup for parity fuzzing: structured fragments in random order — open
# and close tags independently, whole well-formed fixture blocks, comments,
# CDATA, void/self-closing tags, and plain text.
_soup_fragment = st.one_of(
    safe_text,
    st.sampled_from([f"<{n}>" for n in NONVOID_TAGS]),
    st.sampled_from([f"</{n}>" for n in NONVOID_TAGS]),
    st.sampled_from(FX.ALL_CONTENTS),
    st.sampled_from(
        [
            "<!-- <tool_use> inside a comment -->",
            "<![CDATA[<unbalanced>]]>",
            "<br>",
            "<img/>",
            "<tool_name>calc</tool_name>",
            "<parameter><x>1</x></parameter>",
            "Tool execution results:",
            "1 < 2 is true",
        ]
    ),
)
tag_soup = st.lists(_soup_fragment, max_size=6).map("\n".join)


# ---------------------------------------------------------------------------
# V1 balanced_tags
# ---------------------------------------------------------------------------


@given(nested_doc())
@settings(deadline=None)
def test_balanced_accepts_well_nested(doc):
    ok, errors = V.balanced_tags(doc)
    assert ok and errors == []


@given(nested_doc())
@settings(deadline=None)
def test_balanced_rejects_dropped_close(doc):
    closes = [m for m in re.finditer(r"</([\w一-鿿-]+)>", doc)]
    if not closes:
        return
    last = closes[-1]
    mutated = doc[: last.start()] + doc[last.end() :]
    ok, errors = V.balanced_tags(mutated)
    assert not ok and errors


# ---------------------------------------------------------------------------
# F4 restore_closing_tags
# ---------------------------------------------------------------------------


@given(tag_soup)
@settings(deadline=None)
def test_restore_idempotent_and_append_only(doc):
    once = restore_closing_tags(doc)
    assert once.startswith(doc)
    assert restore_closing_tags(once) == once


# ---------------------------------------------------------------------------
# F3/F5 extraction totality + stability
# ---------------------------------------------------------------------------


@given(tag_soup)
@settings(deadline=None)
# the sub-agent regex swallows the stray </tool_use>, leaving the trailing
# <tool_use> unclosed after the first pass
@example(
    doc="<sub-agent>\n<agent_name>helper</agent_name>\n<message>continue</message>\n"
    "<history><![CDATA[user: hi\nassistant: hello]]></history>\n</sub-agent>\n"
    "</tool_use>\nDelegating:\n<sub-agent>\n<agent_name>researcher</agent_name>\n"
    "<message>Find recent OLAP papers</message>\n</sub-agent>\n<tool_use>"
)
def test_extraction_total_and_stable(doc):
    # total: never raises on arbitrary soup. Unparseable blocks are KEPT in
    # the cleaned content (reference behavior), so the invariant is
    # stability: a second pass extracts nothing new and changes nothing.
    cleaned, calls = extract_tool_calls(doc)
    for c in calls:
        # name may be '' — the reference emits a ''-named call for an empty
        # <tool_name/> (:964-966 strips text, no emptiness guard) and parity
        # tracks that; the id, by contrast, is always generated
        assert c["id"] and isinstance(c["function"]["name"], str)
    cleaned2, calls2 = extract_tool_calls(cleaned)
    assert cleaned2 == cleaned
    assert calls2 == []


# ---------------------------------------------------------------------------
# J4 pairing invariants
# ---------------------------------------------------------------------------

_NAMES = ["web_search", "calculator", "file_read"]


def _result_msg(names: list[str]) -> dict:
    body = "\n".join(
        f"<tool_result>\n<tool_name>{n}</tool_name>\n<result>r-{i}</result>\n</tool_result>"
        for i, n in enumerate(names)
    )
    return {"role": "user", "content": f"Tool execution results:\n{body}"}


def _assistant_msg(names: list[str]) -> dict:
    return {
        "role": "assistant",
        "content": "",
        "tool_calls": [
            {
                "type": "function",
                "id": f"id_{i}_{n}",
                "function": {"name": n, "arguments": "{}"},
            }
            for i, n in enumerate(names)
        ],
    }


_message = st.one_of(
    st.sampled_from([{"role": "user", "content": "hi"}, {"role": "assistant", "content": "ok"}]),
    st.lists(st.sampled_from(_NAMES), min_size=1, max_size=3).map(_assistant_msg),
    st.lists(st.sampled_from(_NAMES), min_size=1, max_size=3).map(_result_msg),
)


@given(st.lists(_message, max_size=6))
@settings(deadline=None)
def test_pairing_conservation_and_id_uniqueness(msgs):
    import copy

    msgs = copy.deepcopy(msgs)
    # the generator can emit colliding call ids across messages; make them
    # globally unique so id-uniqueness of the OUTPUT is a real invariant
    seq = 0
    for m in msgs:
        for call in m.get("tool_calls") or []:
            call["id"] = f"uid_{seq}_{call['function']['name']}"
            seq += 1
    out = pair_tool_results(copy.deepcopy(msgs))
    n_results = sum(
        len(list(re.findall(r"<tool_result>", m["content"])))
        for m in msgs
        if m["role"] == "user" and m["content"].startswith("Tool execution results:")
    )
    tool_msgs = [m for m in out if m["role"] == "tool"]
    # conservation: one tool message per tool_result; nothing else dropped
    assert len(tool_msgs) == n_results
    assert len(out) == len(msgs) - sum(
        1
        for m in msgs
        if m["role"] == "user" and m["content"].startswith("Tool execution results:")
    ) + n_results
    # each pending id consumed at most once
    ids = [m["tool_call_id"] for m in tool_msgs]
    assert len(ids) == len(set(ids))
    for m in tool_msgs:
        assert m["tool_call_id"]


@given(
    st.lists(st.sampled_from(_NAMES), min_size=2, max_size=3, unique=True),
    st.data(),
)
@settings(deadline=None)
def test_pairing_name_first_beats_fifo(names, data):
    # results arrive in reverse call order; name matching must still pair
    # each result with the call of the same name, not positionally.
    import copy

    msgs = [_assistant_msg(names), _result_msg(list(reversed(names)))]
    out = pair_tool_results(copy.deepcopy(msgs))
    by_name = {
        c["function"]["name"]: c["id"] for c in msgs[0]["tool_calls"]
    }
    for m in out:
        if m["role"] == "tool":
            assert m["tool_call_id"] == by_name[m["name"]]


# ---------------------------------------------------------------------------
# Fuzzed parity with the actual reference implementation
# ---------------------------------------------------------------------------


def _load_ref(path, name):
    spec = importlib.util.spec_from_file_location(name, path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


@pytest.mark.skipif(not os.path.exists(REF_VALIDATOR), reason="reference unavailable")
@pytest.mark.parametrize("mode", ["a4a", "nexau"])
def test_fuzz_validator_parity(mode):
    ref = _load_ref(REF_VALIDATOR, "ref_val_prop")
    rv = ref.XMLValidator(mode=mode)

    @given(tag_soup)
    @settings(deadline=None, max_examples=150)
    def check(doc):
        ref_ok, ref_errs = rv.validate_message(doc)
        my_ok, my_errs = V.validate_message(doc, mode=mode)
        assert my_ok == ref_ok, f"[{mode}] verdict mismatch for: {doc!r}"
        assert my_errs == ref_errs, f"[{mode}] errors mismatch for: {doc!r}"

    check()


@pytest.mark.skipif(not os.path.exists(REF_CONVERTER), reason="reference unavailable")
def test_fuzz_extraction_parity():
    ref = _load_ref(REF_CONVERTER, "ref_conv_prop")
    conv = ref.SpansToChatCompletionConverter()

    def strip(calls):
        return [{"type": c["type"], "function": c["function"]} for c in calls]

    @given(tag_soup)
    @settings(deadline=None, max_examples=150)
    def check(doc):
        ref_cleaned, ref_calls = conv.extract_tool_calls_from_xml(doc)
        my_cleaned, my_calls = extract_tool_calls(doc)
        assert my_cleaned == ref_cleaned, f"cleaned mismatch for: {doc!r}"
        assert strip(my_calls) == strip(ref_calls), f"calls mismatch for: {doc!r}"

    check()


# ---------------------------------------------------------------------------
# F7 emitter fuzz parity — all five targets over random tag soup
# ---------------------------------------------------------------------------

REF_EMITTER = "/root/reference/converter/trace/convert_trace_to_specific_tool_call_style.py"


@pytest.mark.skipif(not os.path.exists(REF_EMITTER), reason="reference unavailable")
@pytest.mark.parametrize("target", ["qwen", "minimax", "glm", "openrouter", "deepseek"])
def test_fuzz_emitter_parity(target):
    from nexgap_spark.functions.emitters import convert_message

    ref = _load_ref(REF_EMITTER, "ref_fmt_prop")

    @given(tag_soup)
    @settings(deadline=None, max_examples=100)
    def check(doc):
        assert convert_message(doc, target) == ref.convert_message_format(
            doc, target
        ), f"[{target}] mismatch for: {doc!r}"

    check()


# ---------------------------------------------------------------------------
# X3–X10 parse cores: totality — every parser accepts arbitrary text
# without raising and returns its contract shape (the reference wraps all
# of these in try/except; ours must be total by construction)
# ---------------------------------------------------------------------------


@settings(max_examples=200, deadline=None)
@given(st.text(max_size=300))
def test_agent_parsers_total_on_arbitrary_text(text):
    from nexgap_spark.external import agents as A

    rec = A.parse_fuzzifier_response("q", text)
    assert isinstance(rec["applied"], bool)
    assert (rec["error"] is None) == rec["applied"]

    assert isinstance(A.persona_suitable(text), bool)

    urls = A.parse_extracted_urls(text)
    assert isinstance(urls, list)
    assert all(not A.is_placeholder_url(u["url"]) for u in urls)

    verdict = A.parse_repair_response(text, "u")
    assert verdict["action"] in ("repair", "remove")
    assert isinstance(verdict["suggested_urls"], list)
    # consistency: repair always comes with at least one suggestion
    assert verdict["action"] == "remove" or verdict["suggested_urls"]

    req = A.parse_file_requirement(text)
    assert isinstance(req["requires_files"], bool)
    assert all(isinstance(i, str) and i for i in req["required_items"])

    plan = A.parse_file_plan(text)
    assert all("url" in f for f in plan["files"])
    if plan["directory_name"] is not None:
        assert re.fullmatch(r"[a-z0-9]([a-z0-9\-]*[a-z0-9])?", plan["directory_name"])
        assert len(plan["directory_name"]) <= 60

    aug = A.parse_augmented_query(text)
    assert aug is None or (isinstance(aug, str) and aug.strip())

    tag = A.parse_new_tag(text, "p")
    assert tag is None or tag["id"].startswith("p_")


@settings(max_examples=100, deadline=None)
@given(
    st.text(max_size=120),
    st.lists(
        st.tuples(
            st.sampled_from(["replace", "remove"]),
            st.text(min_size=1, max_size=20),
            st.text(min_size=1, max_size=20),
        ),
        max_size=5,
    ),
)
def test_rewrite_fallback_total_and_removals_marked(query, raw_changes):
    from nexgap_spark.external.agents import apply_url_changes, parse_rewritten_query

    changes = [
        {"action": a, "original_url": orig, "new_url": new}
        for a, orig, new in raw_changes
    ]
    out = apply_url_changes(query, changes)
    assert isinstance(out, str)
    # a removed URL that was present and is not a substring of any other
    # change's output never survives verbatim... (replacement chains make
    # stronger claims false); minimal invariant: function is total and
    # deterministic
    assert out == apply_url_changes(query, changes)
    # parse_rewritten_query never raises on arbitrary responses
    assert isinstance(parse_rewritten_query(query, query, changes), str)


# -- canonical_url: regex strip vs a pure-Python reference model ------------


def _py_canonical(url: str) -> str:
    """Pure-Python model of canonical_url's contract (the spec, not the
    implementation): fragment strip (everything from the first '#'),
    scheme://host lowercase, KEY-based tracking strip (exact opaque ids,
    utm_ prefix), sort, rejoin."""
    import re as _re

    from nexgap_spark.operators.curation import (
        TRACKING_PARAM_KEYS,
        TRACKING_PARAM_PREFIXES,
    )

    u = url.split("#", 1)[0]
    m = _re.match(r"^([^:/?#]+://[^/?#]*)(.*)$", u, _re.DOTALL)
    if m:
        u = m.group(1).lower() + m.group(2)
    base, sep, q = u.partition("?")
    if not sep:
        return base
    kept = []
    for tok in q.split("&"):
        if not tok:
            continue
        key = tok.split("=", 1)[0]
        if key in TRACKING_PARAM_KEYS:
            continue
        if any(key.startswith(p) for p in TRACKING_PARAM_PREFIXES):
            continue
        kept.append(tok)
    kept.sort()
    return base + "?" + "&".join(kept) if kept else base


def test_canonical_url_matches_python_model(spark):
    # exhaustive adversarial corpus in ONE Spark job: every (head, frag) ×
    # pairs of boundary-probing params (bare keys, empty values, values
    # containing '=', keys that merely extend a tracking name)
    import itertools

    from pyspark.sql import functions as F

    from nexgap_spark.operators.curation import canonical_url, with_canonical_url

    keys = ["a", "gclid", "gclid2", "fbclid", "ref_src", "ref_src_custom",
            "utm_source", "utm_", "utmx", "mc_eid", "igshid", "msclkid"]
    params = keys + [f"{k}=v" for k in keys] + [f"{k}=" for k in keys] + [
        "gclid=a=b", "utm_source=x=y", "", "b=2"
    ]
    heads = ["HTTPS://Ex.COM/p", "https://ex.com/p", "relative/p"]
    frags = ["", "#frag", "#a?b=1"]
    urls = []
    for head, frag in itertools.product(heads, frags):
        for p1, p2 in itertools.product(params, repeat=2):
            urls.append(f"{head}?{p1}&{p2}{frag}")
        urls.append(head + frag)
    # both forms — the composable Column expression AND the staged hot-path
    # twin — against the same pure-Python model, one Spark job
    got = with_canonical_url(
        spark.createDataFrame([(u,) for u in urls], "url string")
        .withColumn("cu", canonical_url("url")),
        "url", "cu_staged",
    ).collect()
    assert len(got) == len(urls)
    for r in got:
        want = _py_canonical(r.url)
        assert r.cu == want, r.url
        assert r.cu_staged == want, r.url
