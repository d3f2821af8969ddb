"""Framework → converter-strategy dispatch.

The reference picks a converter implementation per framework at run time
(run_end_to_end.py:429-488): a framework-specific converter module wins if
present, else the default for the requested wire format (OpenAI tool-call
JSON vs NexAU XML). This registry re-expresses that as data instead of
filesystem probing: strategies are keyed by framework name, an explicit
registration wins over the format default, and unknown frameworks fall back
exactly like the reference's "default converter" branch.

A strategy bundles the three knobs that actually differ between frameworks:
the span→record transform, the validator mode (functions/validators.MODES),
and the default emit target. Registration is a dict insert — cluster code
never imports modules dynamically per-row (the reference's importlib dance
is driver-side config resolution; here it is a lookup)."""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Any, Callable

from pyspark.sql import DataFrame

from nexgap_spark.operators.converter import convert_spans, convert_spans_nexau


def _validate_framework_cfg(cfg: dict[str, Any]) -> dict[str, Any]:
    from nexgap_spark.sources.config_schema import require_valid_framework_config

    return require_valid_framework_config(cfg)


def _validate_nexau_cfg(cfg: dict[str, Any]) -> dict[str, Any]:
    from nexgap_spark.sources.config_schema import require_valid_nexau_config

    return require_valid_nexau_config(cfg)


@dataclass(frozen=True)
class ConverterStrategy:
    """What `Engine.convert`/`validate`/`emit` need to know per framework."""

    name: str
    validator_mode: str = "a4a"
    emit_target: str | None = None
    convert: Callable[..., DataFrame] = field(default=convert_spans)
    # per-strategy config gate: the reference validates each config FORMAT
    # with its own pydantic model (framework_config_schema vs
    # nexau_config_schema) before anything consumes it — a malformed config
    # must fail on the driver, pre-broadcast, not mid-job. None = derive
    # from validator_mode (so a registration that sets mode='nexau' but
    # forgets this field cannot silently validate with the wrong schema).
    validate_config: Callable[[dict[str, Any]], dict[str, Any]] | None = None

    def validate(self, cfg: dict[str, Any]) -> dict[str, Any]:
        fn = self.validate_config or (
            _validate_nexau_cfg
            if self.validator_mode == "nexau"
            else _validate_framework_cfg
        )
        return fn(cfg)


# format defaults — the reference's convert_spans_to_chatcompletion.py
# (OpenAI tool calls) vs convert_spans_to_chatcompletion_nexau.py (NexAU
# XML), run_end_to_end.py:433-437
OPENAI_DEFAULT = ConverterStrategy(name="openai-default", validator_mode="a4a")
NEXAU_DEFAULT = ConverterStrategy(
    name="nexau-default", validator_mode="nexau", convert=convert_spans_nexau
)

_REGISTRY: dict[str, ConverterStrategy] = {}


def register_framework(framework: str, strategy: ConverterStrategy) -> None:
    """Framework-specific override — the analog of dropping a
    ``convert_spans_to_chatcompletion.py`` next to a framework config
    (run_end_to_end.py:439-443)."""
    _REGISTRY[framework] = strategy


def resolve_converter(
    framework: str | None, *, use_openai_format: bool = False
) -> ConverterStrategy:
    """Framework-specific registration if present, else the format default —
    the reference's exists()/else branch (run_end_to_end.py:441-448)."""
    if framework and framework in _REGISTRY:
        return _REGISTRY[framework]
    return OPENAI_DEFAULT if use_openai_format else NEXAU_DEFAULT


def _make_default_registrations() -> None:
    """The two frameworks the reference ships configs for (NexA4A's agent
    format validates in 'a4a' mode; NexAU XML in 'nexau' mode)."""
    register_framework(
        "nexa4a", ConverterStrategy(name="nexa4a", validator_mode="a4a")
    )
    register_framework(
        "nexau",
        ConverterStrategy(
            name="nexau", validator_mode="nexau", convert=convert_spans_nexau
        ),
    )


_make_default_registrations()
