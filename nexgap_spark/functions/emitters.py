"""Tool-call style rewrite — F7/F8 (SURVEY §2.8; behavioral parity with
reference convert_trace_to_specific_tool_call_style.py:51-569 and
convert_trace_tool_calls.py:98-148).

NexAU-format XML blocks in message content are re-emitted in one of five
target wire formats (qwen / minimax / glm / openrouter / deepseek). Parsing
happens once into a (name, params) spec; emission is a per-format template.
Pure string→string ⇒ a pandas UDF applies it per message, and F8's recursive
transform walks nested record structures.
"""

from __future__ import annotations

import json
import re
import xml.etree.ElementTree as ET
from collections.abc import Callable

TARGET_FORMATS = ("qwen", "minimax", "glm", "openrouter", "deepseek")

RE_TOOL_USE = re.compile(r"<tool_use>(.*?)</tool_use>", re.DOTALL)
RE_SUB_AGENT = re.compile(r"<sub-agent>(.*?)</sub-agent>", re.DOTALL)
RE_PARALLEL_TOOLS = re.compile(
    r"<use_parallel_tool_calls>(.*?)</use_parallel_tool_calls>", re.DOTALL
)
RE_PARALLEL_TOOL = re.compile(r"<parallel_tool>(.*?)</parallel_tool>", re.DOTALL)
RE_PARALLEL_AGENTS = re.compile(
    r"<use_parallel_sub_agents>(.*?)</use_parallel_sub_agents>", re.DOTALL
)
RE_PARALLEL_AGENT = re.compile(r"<parallel_agent>(.*?)</parallel_agent>", re.DOTALL)
RE_BATCH_AGENT = re.compile(r"<use_batch_agent>(.*?)</use_batch_agent>", re.DOTALL)


def _parse_lenient(body: str) -> ET.Element:
    """Single-retry lenient parse (reference :51-69): strip a dangling
    partial closing tag and retry once."""
    try:
        return ET.fromstring(f"<root>{body}</root>")
    except ET.ParseError:
        body = re.sub(r"<\/\w+\s*$", "", body.strip())
        return ET.fromstring(f"<root>{body}</root>")


def _text_of(root: ET.Element, tag: str) -> str | None:
    elem = root.find(f".//{tag}")
    if elem is None:
        return None
    return "".join(elem.itertext()).strip()


def _parse_tool(body: str) -> tuple[str, dict[str, str]]:
    root = _parse_lenient(body)
    name_elem = root.find(".//tool_name")
    if name_elem is None:
        raise ValueError("Missing tool_name in tool_use XML")
    params: dict[str, str] = {}
    params_elem = root.find(".//parameter")
    if params_elem is not None:
        for p in params_elem:
            params[p.tag] = (
                "".join(p.itertext()).strip() if p.text or list(p) else ""
            )
    return (name_elem.text or "").strip(), params


def _parse_agent(body: str) -> tuple[str, dict[str, str]]:
    root = _parse_lenient(body)
    agent = _text_of(root, "agent_name")
    if agent is None:
        raise ValueError("Missing agent_name in sub-agent XML")
    params = {"agent_name": agent, "message": _text_of(root, "message") or ""}
    history = _text_of(root, "history")
    if history:
        params["history"] = history
    return "sub-agent", params


def _parse_batch(body: str) -> tuple[str, dict[str, str]]:
    root = _parse_lenient(body)
    source = ""
    ids = root.find(".//input_data_source")
    if ids is not None:
        fn = ids.find("file_name")
        fmt = ids.find("format")
        file_name = (fn.text or "").strip() if fn is not None else ""
        format_val = (fmt.text or "jsonl").strip() if fmt is not None else "jsonl"
        source = f"{file_name}|{format_val}"
    return "batch-agent", {
        "agent_name": _text_of(root, "agent_name") or "",
        "message": _text_of(root, "message") or "",
        "input_data_source": source,
    }


# --- per-format emitters (wire formats are public model conventions) -------


def _emit_qwen(name: str, params: dict[str, str]) -> str:
    lines = ["<tool_call>", f"<function={name}>"]
    lines += [f"<parameter={k}>{v}</parameter>" for k, v in params.items()]
    return "\n".join(lines + ["</function>", "</tool_call>"])


def _emit_minimax(name: str, params: dict[str, str]) -> str:
    lines = [f"<invoke name={name}>"]
    lines += [f"<parameter name={k}>{v}</parameter>" for k, v in params.items()]
    return "\n".join(lines + ["</invoke>"])


def _emit_glm(name: str, params: dict[str, str]) -> str:
    lines = [f"<tool_call>{name}"]
    for k, v in params.items():
        lines += [f"<arg_key>{k}</arg_key>", f"<arg_value>{v}</arg_value>"]
    return "\n".join(lines + ["</tool_call>"])


def _emit_openrouter(name: str, params: dict[str, str]) -> str:
    lines = [f"<{name}>"]
    lines += [f"<{k}>{v}</{k}>" for k, v in params.items()]
    return "\n".join(lines + [f"</{name}>"])


def _emit_deepseek(name: str, params: dict[str, str]) -> str:
    # DeepSeek wire format uses U+FF5C fullwidth bar + U+2581 lower block.
    args = json.dumps(params, ensure_ascii=False)
    return (
        "<｜tool▁calls▁begin｜><｜tool▁call▁begin｜>"
        f"{name}<｜tool▁sep｜>{args}"
        "<｜tool▁call▁end｜><｜tool▁calls▁end｜>"
    )


EMITTERS: dict[str, Callable[[str, dict[str, str]], str]] = {
    "qwen": _emit_qwen,
    "minimax": _emit_minimax,
    "glm": _emit_glm,
    "openrouter": _emit_openrouter,
    "deepseek": _emit_deepseek,
}


def _sub(pattern: re.Pattern, parse, emit, text: str) -> str:
    """Replace each block with its re-emitted form; parse failures keep the
    original block (reference behavior)."""

    def repl(m: re.Match) -> str:
        try:
            name, params = parse(m.group(1))
            return emit(name, params)
        except (ValueError, ET.ParseError):
            return m.group(0)

    return pattern.sub(repl, text)


def convert_message(text: str, target: str) -> str:
    """F7 (reference :509-569): rewrite every NexAU block in a message to the
    target format. Order matters and mirrors the reference: batch → parallel
    sub-agents (wrapper preserved) → parallel tools (wrapper preserved) →
    single sub-agents → single tools."""
    target = target.lower()
    if target not in EMITTERS:
        raise ValueError(f"Unsupported format: {target}. Supported: {list(EMITTERS)}")
    emit = EMITTERS[target]

    out = _sub(RE_BATCH_AGENT, _parse_batch, emit, text)

    def parallel_agents_block(m: re.Match) -> str:
        inner = _sub(RE_PARALLEL_AGENT, _parse_agent, emit, m.group(1))
        inner = _sub(RE_PARALLEL_TOOL, _parse_tool, emit, inner)
        return f"<use_parallel_sub_agents>{inner}</use_parallel_sub_agents>"

    out = RE_PARALLEL_AGENTS.sub(parallel_agents_block, out)

    def parallel_tools_block(m: re.Match) -> str:
        inner = _sub(RE_PARALLEL_TOOL, _parse_tool, emit, m.group(1))
        return f"<use_parallel_tool_calls>{inner}</use_parallel_tool_calls>"

    out = RE_PARALLEL_TOOLS.sub(parallel_tools_block, out)
    out = _sub(RE_SUB_AGENT, _parse_agent, emit, out)
    out = _sub(RE_TOOL_USE, _parse_tool, emit, out)
    return out


def convert_nested(value, target: str):
    """F8 (reference convert_trace_tool_calls.py:98-148): recursively rewrite
    every string inside nested dict/list structures (messages, tools)."""
    if isinstance(value, str):
        return convert_message(value, target)
    if isinstance(value, dict):
        return {k: convert_nested(v, target) for k, v in value.items()}
    if isinstance(value, list):
        return [convert_nested(v, target) for v in value]
    return value


def rewrite_content_udf(target: str):
    """Arrow-batched pandas UDF: content column → rewritten content column."""
    import pandas as pd
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    def _rewrite(s):
        return s.map(lambda x: convert_message(x, target) if isinstance(x, str) else x)

    _rewrite.__annotations__ = {"s": pd.Series, "return": pd.Series}
    return F.pandas_udf(_rewrite, T.StringType())
