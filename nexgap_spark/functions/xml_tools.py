"""XML tool-call extraction (SURVEY F3-F6, F15, F18).

Behavioral parity with the reference converter
(convert_spans_to_chatcompletion.py:785-1384): five block grammars
(<tool_use>, <sub-agent>, <use_parallel_tool_calls>/<parallel_tool>,
<use_parallel_sub_agents>/<parallel_agent>, <use_batch_agent>), closing-tag
restoration for stop-sequence-truncated output, and a 5-strategy robust XML
parse. Re-expressed as pure module functions so they vectorize cleanly under
pandas UDFs and are property-testable.

Determinism: tool-call ids are content-derived (md5 of a caller-supplied
scope + counter) instead of uuid4 (F18) so oracle hashes are stable
(FIXTURES.md determinism requirements).
"""

from __future__ import annotations

import hashlib
import html
import json
import re
import xml.etree.ElementTree as ET
from collections.abc import Callable, Iterator
from typing import Any

# Block grammars (the tag vocabulary is the reference's wire format).
RE_TOOL_USE = re.compile(r"<tool_use>(.*?)</tool_use>", re.DOTALL)
RE_SUB_AGENT = re.compile(
    r"<sub-agent>\s*<agent_name>([^<]+)</agent_name>\s*<message>(.*?)</message>\s*</sub-agent>",
    re.DOTALL,
)
RE_PARALLEL_TOOLS_BLOCK = re.compile(
    r"<use_parallel_tool_calls>(.*?)</use_parallel_tool_calls>", re.DOTALL
)
RE_PARALLEL_TOOL = re.compile(r"<parallel_tool>(.*?)</parallel_tool>", re.DOTALL)
RE_PARALLEL_AGENTS_BLOCK = re.compile(
    r"<use_parallel_sub_agents>(.*?)</use_parallel_sub_agents>", re.DOTALL
)
RE_PARALLEL_AGENT = re.compile(
    r"<parallel_agent>\s*<agent_name>([^<]+)</agent_name>\s*<message>(.*?)</message>\s*</parallel_agent>",
    re.DOTALL,
)
RE_BATCH_AGENT = re.compile(
    r"<use_batch_agent>\s*<agent_name>([^<]+)</agent_name>\s*"
    r"<input_data_source>(.*?)</input_data_source>\s*<message>(.*?)</message>\s*</use_batch_agent>",
    re.DOTALL,
)
RE_TOOL_NAME = re.compile(r"<tool_name>\s*([^<]+)\s*</tool_name>")
RE_PARAMETER = re.compile(r"<parameter>(.*?)</parameter>", re.DOTALL)
RE_FILE_NAME = re.compile(r"<file_name>([^<]+)</file_name>")
RE_FORMAT = re.compile(r"<format>([^<]+)</format>")

# Tags that may be truncated by LLM stop sequences (F4 restoration list,
# reference :790-800).
RESTORABLE_TAGS = (
    "tool_use",
    "sub-agent",
    "parallel_tool",
    "parallel_agent",
    "use_parallel_tool_calls",
    "use_parallel_sub_agents",
    "use_batch_agent",
)

IdGen = Callable[[], str]


def deterministic_id_gen(scope: str) -> IdGen:
    """call_<32 hex> ids derived from (scope, counter) — the deterministic
    replacement for the reference's uuid4 (F18, reference :70-72)."""
    counter = iter(range(1_000_000_000))

    def nxt() -> str:
        n = next(counter)
        return "call_" + hashlib.md5(f"{scope}:{n}".encode()).hexdigest()

    return nxt


def restore_closing_tags(text: str) -> str:
    """F4 (reference :785-812): if a restorable open tag outnumbers its close
    tag and the text doesn't already end with the close tag, append one."""
    out = text
    for name in RESTORABLE_TAGS:
        open_tag, close_tag = f"<{name}>", f"</{name}>"
        if open_tag in out and not out.rstrip().endswith(close_tag):
            if out.count(open_tag) > out.count(close_tag):
                out += close_tag
    return out


# ---------------------------------------------------------------------------
# F5 — robust XML parse, 5 ordered fallback strategies (reference :814-933).
# ---------------------------------------------------------------------------


def _try_fromstring(body: str) -> ET.Element | None:
    try:
        return ET.fromstring(f"<root>{body}</root>")
    except ET.ParseError:
        return None


def _strategy_line_repair(body: str) -> str:
    """Close tags that open on a line and never close (strategy 2)."""
    fixed: list[str] = []
    for raw in body.strip().split("\n"):
        line = raw.strip()
        if not line:
            continue
        if re.findall(r"<(\w+)(?:\s+[^>]*)?>([^<]*?)(?:</\1>|$)", line):
            fixed.append(line)
            continue
        m = re.match(r"<(\w+)(?:\s+[^>]*)?>\s*([^<]*)\s*$", line)
        fixed.append(f"<{m.group(1)}>{m.group(2)}</{m.group(1)}>" if m else line)
    return "\n".join(fixed)


def _strategy_escape_params(body: str) -> str:
    """Escape angle brackets inside parameter values (strategy 3)."""
    params = RE_PARAMETER.search(body)
    if not params:
        return body
    inner = params.group(1)

    def esc(m: re.Match) -> str:
        name, val = m.group(1), m.group(2)
        if "<" in val and ">" in val:
            return f"<{name}>{html.escape(val)}</{name}>"
        return m.group(0)

    escaped = re.sub(r"<(\w+)>(.*?)</\1>", esc, inner, flags=re.DOTALL)
    return body.replace(inner, escaped)


def _strategy_escape_all(body: str) -> str:
    """Escape everything, then restore bare tag brackets (strategy 4)."""
    return html.escape(body, quote=False).replace("&lt;", "<").replace("&gt;", ">")


def _strategy_minimal(body: str) -> str:
    """Regex-salvage a minimal <tool_name>/<parameter> document (strategy 5)."""
    name_m = re.search(
        r"<tool_name>\s*([^<]+)\s*</tool_name>", body, re.IGNORECASE | re.DOTALL
    )
    minimal = f"<tool_name>{name_m.group(1).strip() if name_m else 'unknown'}</tool_name>"
    params_m = re.search(r"<parameter>(.*?)</parameter>", body, re.DOTALL | re.IGNORECASE)
    if params_m:
        minimal += f"<parameter>{params_m.group(1).strip()}</parameter>"
    return minimal


def robust_parse(body: str) -> ET.Element:
    """Parse untrusted LLM-emitted XML. Strategy order matters and mirrors the
    reference: raw → line-repair → param-escape → escape-all → regex salvage."""
    for candidate in (
        body,
        _strategy_line_repair(body),
        _strategy_escape_params(body),
        _strategy_escape_all(body),
        _strategy_minimal(body),
    ):
        root = _try_fromstring(candidate)
        if root is not None:
            return root
    raise ValueError(f"Unparseable XML content: {body[:200]}...")


def parse_params_regex(param_content: str) -> dict[str, str]:
    """F6 (reference :1366-1384): regex fallback for a parameter block —
    nested <name>value</name> pairs, else the whole text as 'content'."""
    params: dict[str, str] = {}
    if "<" in param_content and ">" in param_content:
        for name, value in re.findall(r"<([^>]+)>(.*?)</\1>", param_content, re.DOTALL):
            params[name.strip()] = value.strip()
    elif param_content.strip():
        params["content"] = param_content.strip()
    return params


def _params_from_element(root: ET.Element) -> dict[str, str]:
    """Parameter dict from a parsed <parameter> element; F15 html-unescape on
    values (reference :980-983)."""
    params: dict[str, str] = {}
    p = root.find("parameter")
    if p is not None:
        for child in p:
            value = child.text if child.text is not None else "".join(child.itertext()) or ""
            params[child.tag] = html.unescape(value).strip()
    return params


def _tool_call(name: str, arguments: dict[str, Any], next_id: IdGen) -> dict[str, Any]:
    return {
        "id": next_id(),
        "type": "function",
        "function": {
            "name": name,
            "arguments": json.dumps(arguments, ensure_ascii=False),
        },
    }


def _parse_single_tool(body: str, next_id: IdGen) -> dict[str, Any] | None:
    """One tool invocation body → tool_call dict; robust parse first, regex
    fallback second; None if the tool name can't be recovered."""
    try:
        root = robust_parse(body.strip())
        name_elem = root.find("tool_name")
        if name_elem is None:
            # reference keeps the block when tool_name is absent after a
            # SUCCESSFUL parse (no regex fallback — that path is only for
            # parse failures); an empty <tool_name/> still emits a ''-named
            # call, reference :964-1003
            return None
        return _tool_call((name_elem.text or "").strip(), _params_from_element(root), next_id)
    except ValueError:
        pass
    name_m = RE_TOOL_NAME.search(body)
    if not name_m:
        return None
    params_m = RE_PARAMETER.search(body)
    params = parse_params_regex(params_m.group(1).strip() if params_m else "")
    return _tool_call(name_m.group(1).strip(), params, next_id)


def extract_tool_calls(
    content: str, next_id: IdGen | None = None, *, scope: str = "span"
) -> tuple[str, list[dict[str, Any]]]:
    """F3 (reference :935-1364): extract every tool/sub-agent invocation from
    assistant content; returns (cleaned content, tool_calls in source order).

    Grammar blocks are replaced with '' on successful parse and left intact
    on failure (so downstream validators still see the malformed block).
    """
    next_id = next_id or deterministic_id_gen(scope)
    calls: list[dict[str, Any]] = []
    text = restore_closing_tags(content)

    def on_tool_use(m: re.Match) -> str:
        call = _parse_single_tool(m.group(1), next_id)
        if call is None:
            return m.group(0)
        calls.append(call)
        return ""

    text = RE_TOOL_USE.sub(on_tool_use, text)

    def on_sub_agent(m: re.Match) -> str:
        calls.append(
            _tool_call(
                f"{m.group(1).strip()}_sub_agent",
                {"message": m.group(2).strip()},
                next_id,
            )
        )
        return ""

    text = RE_SUB_AGENT.sub(on_sub_agent, text)

    def on_parallel_tools(m: re.Match) -> str:
        for body in RE_PARALLEL_TOOL.findall(m.group(1)):
            call = _parse_single_tool(body, next_id)
            if call is not None:
                calls.append(call)
        return ""

    text = RE_PARALLEL_TOOLS_BLOCK.sub(on_parallel_tools, text)

    def on_parallel_agents(m: re.Match) -> str:
        block = m.group(1)
        for agent_name, message in RE_PARALLEL_AGENT.findall(block):
            calls.append(
                _tool_call(
                    f"{agent_name.strip()}_sub_agent",
                    {"message": message.strip()},
                    next_id,
                )
            )
        for body in RE_PARALLEL_TOOL.findall(block):
            call = _parse_single_tool(body, next_id)
            if call is not None:
                calls.append(call)
        return ""

    text = RE_PARALLEL_AGENTS_BLOCK.sub(on_parallel_agents, text)

    def on_batch_agent(m: re.Match) -> str:
        agent_name, source, message = (g.strip() for g in m.groups())
        file_m = RE_FILE_NAME.search(source)
        fmt_m = RE_FORMAT.search(source)
        calls.append(
            _tool_call(
                f"{agent_name}_sub_agent",
                {
                    "batch_mode": True,
                    "input_file": file_m.group(1).strip() if file_m else "",
                    "format": fmt_m.group(1).strip() if fmt_m else "jsonl",
                    "message_template": message,
                },
                next_id,
            )
        )
        return ""

    text = RE_BATCH_AGENT.sub(on_batch_agent, text)
    # a block regex can swallow a stray close tag, leaving an open tag the
    # restore above did not close; close it now so the cleaned content is
    # stable under a second extraction
    return restore_closing_tags(text.strip()), calls


def iter_tool_results(content: str) -> Iterator[tuple[str, str]]:
    """(tool_name, result) pairs from a 'Tool execution results:' user message
    (J4 input shape, reference :1433-1436)."""
    pattern = (
        r"<tool_result>\s*<tool_name>([^<]+)</tool_name>\s*<result>(.*?)</result>\s*</tool_result>"
    )
    for name, result in re.findall(pattern, content, re.DOTALL):
        yield name.strip(), result
