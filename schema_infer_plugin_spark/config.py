"""Config layer (SURVEY.md §2 S12): YAML/JSON file + SCHEMA_INFER_* env overlay
→ validated dataclasses.

Maps the reference's config sections
(/root/reference/schema_infer/config.py:13-271) onto the Spark engine:

====================  =====================================================
reference section     engine section
====================  =====================================================
kafka                 tables — input location + table list (Kafka
                      connection/SASL/SSL fields have no analog: a Spark
                      job authenticates through the cluster's own
                      credential provider, not per-source secrets)
topic_filter          tables.exclude_prefixes / include_patterns
                      (discovery filters, sources/discovery.py)
inference             inference — confidence_threshold, max_depth,
                      n_examples, null_ratio_threshold, sample_rate
schema_registry       registry — mode local|remote, root/url,
                      compatibility, subject_name_strategy (validated the
                      same way, config.py:62-80)
performance           performance — shuffle_partitions, master, AQE,
                      max_partition_bytes (thread/cache knobs map onto
                      Spark's own scheduler and are dropped)
(engine-specific)     validation — role/tool domains, n_buckets,
                      batch_buckets, psi_threshold
====================  =====================================================

Precedence replicates the reference exactly (config.py:233-236): the FILE wins
over env (``{**env_config, **config_data}``); env supplies keys the file
omits. CLI flags, resolved by the callers, override both.

Env keys: ``SCHEMA_INFER_<SECTION>_<FIELD>`` → ``section.field``. The
reference's decoder lowercases and dots EVERY underscore (config.py:229-231),
which makes multi-word fields like ``bootstrap_servers`` unreachable from env
— verified dead by execution. We keep the observable contract (file-over-env,
single-word fields work) and fix the dead mapping: the section is the first
``_``-token, the remainder is the field name.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, field, fields as dc_fields

COMPAT_LEVELS = (
    "NONE",
    "BACKWARD",
    "FORWARD",
    "FULL",
    "BACKWARD_TRANSITIVE",
    "FORWARD_TRANSITIVE",
    "FULL_TRANSITIVE",
)
SUBJECT_STRATEGIES = (
    "TopicNameStrategy",
    "RecordNameStrategy",
    "TopicRecordNameStrategy",
)


class ConfigError(ValueError):
    """Invalid configuration value or file."""


@dataclass
class TablesConfig:
    """Where the tables live and which ones to touch (reference: kafka +
    topic_filter sections)."""

    input: str = ""
    tables: list[str] = field(default_factory=list)
    exclude_internal: bool = True
    exclude_prefixes: list[str] = field(default_factory=lambda: ["__"])
    include_patterns: list[str] = field(default_factory=list)


@dataclass
class InferenceConfig:
    """Schema-inference knobs (reference inference section; the sampled
    max_messages/timeout knobs become the hash sample_rate — full-table is
    the default here, sampling the opt-in)."""

    #: NOTE: the reference's auto_detect_format / forced_data_format knobs are
    #: intentionally absent: they steer its Kafka byte-sampling, which this
    #: engine replaces with declared-schema tables + an explicit --json-col.
    confidence_threshold: float = 0.8
    null_ratio_threshold: float = 0.1
    max_depth: int = 10
    n_examples: int = 3
    sample_rate: str | None = None  # e.g. "16/256"

    def validate(self) -> None:
        if not 0.0 < self.confidence_threshold <= 1.0:
            raise ConfigError(
                f"inference.confidence_threshold must be in (0, 1]: {self.confidence_threshold}"
            )
        if not 0.0 <= self.null_ratio_threshold <= 1.0:
            raise ConfigError(
                f"inference.null_ratio_threshold must be in [0, 1]: {self.null_ratio_threshold}"
            )
        if self.max_depth < 1:
            raise ConfigError(f"inference.max_depth must be >= 1: {self.max_depth}")
        if self.n_examples < 0:
            raise ConfigError(f"inference.n_examples must be >= 0: {self.n_examples}")


@dataclass
class RegistryConfig:
    """Schema-registry settings (reference schema_registry section). mode
    'local' is the directory registry; 'remote' selects the pluggable client
    interface (operators/registry.RegistryClient) with ``url``.

    Auth mirrors the reference's AuthenticationManager registry side
    (plugin/auth.py:149-199): a cloud-looking ``url`` authenticates with
    ``api_key``/``api_secret`` as basic credentials, anything else with
    ``username``/``password``; half-set pairs are ignored, not errors
    (reference behavior — it warns and proceeds unauthenticated).
    ``bearer_token`` is the engine-added third scheme and must not be
    combined with a basic pair. Headers are assembled by
    operators/registry.registry_auth_headers and ride every transport call.
    SSL material (ca/cert/key paths) stays out of scope: it configures the
    HTTP client itself, which is injected here (no network in the sandbox).
    """

    mode: str = "local"
    root: str = ""
    url: str | None = None
    compatibility: str = "NONE"
    subject_name_strategy: str = "TopicNameStrategy"
    username: str | None = None
    password: str | None = None
    api_key: str | None = None
    api_secret: str | None = None
    bearer_token: str | None = None

    def validate(self) -> None:
        if self.mode not in ("local", "remote"):
            raise ConfigError(f"registry.mode must be local|remote: {self.mode}")
        if self.mode == "remote" and not self.url:
            raise ConfigError("registry.mode=remote requires registry.url")
        if self.bearer_token and (
            (self.username and self.password) or (self.api_key and self.api_secret)
        ):
            raise ConfigError(
                "registry.bearer_token cannot be combined with a basic-auth pair"
            )
        comp = self.compatibility.upper()
        if comp not in COMPAT_LEVELS:
            raise ConfigError(
                f"registry.compatibility must be one of {COMPAT_LEVELS}: {self.compatibility}"
            )
        self.compatibility = comp
        if self.subject_name_strategy not in SUBJECT_STRATEGIES:
            raise ConfigError(
                f"registry.subject_name_strategy must be one of {SUBJECT_STRATEGIES}:"
                f" {self.subject_name_strategy}"
            )


@dataclass
class PerformanceConfig:
    """Spark-side performance knobs (reference performance section — its
    thread/cache knobs are Spark's own job; these are the ones a Spark job
    actually tunes)."""

    shuffle_partitions: int = 32
    master: str | None = None
    aqe: bool = True
    max_partition_bytes: str = "128m"

    def validate(self) -> None:
        if self.shuffle_partitions < 1:
            raise ConfigError(
                f"performance.shuffle_partitions must be >= 1: {self.shuffle_partitions}"
            )


@dataclass
class ValidationConfig:
    """Engine-specific constraint-pass knobs (no reference analog — the
    reference has no full-table validation; SURVEY.md §8)."""

    role_domain: list[str] = field(default_factory=list)
    tool_domain: list[str] = field(default_factory=list)
    n_buckets: int = 64
    #: buckets per Pass-B batch over input without verified row counts;
    #: unset, it resolves to min(16, n_buckets) in validate()
    batch_buckets: int | None = None
    psi_threshold: float = 0.2
    #: user-declared constraints (checks/custom.Rule, row rules): each
    #: entry is [name, predicate_sql, column, observed_sql, expected_desc].
    #: FILE-config only — the flat env-var overlay can't express nested lists
    #: (a comma-split env string is rejected by validate() below).
    custom_rules: list = field(default_factory=list)
    #: conversation boundary-role gate (checks/boundaries.py): runs only when
    #: BOTH lists are set (opt-in); comma-separated env form is accepted.
    #: Half-set pairs are a config error, not a silent skip.
    boundary_first_roles: list[str] = field(default_factory=list)
    boundary_last_roles: list[str] = field(default_factory=list)
    #: transition whitelist (checks/alternation.transition_rules):
    #: 'prev->next' pairs; runs only when non-empty (opt-in). Comma-separated
    #: env form is accepted ('user->assistant,assistant->user').
    allowed_transitions: list[str] = field(default_factory=list)

    def validate(self) -> None:
        if self.n_buckets < 1:
            raise ConfigError(f"validation.n_buckets must be >= 1: {self.n_buckets}")
        if self.batch_buckets is None:
            self.batch_buckets = min(16, self.n_buckets)
        if not 1 <= self.batch_buckets <= self.n_buckets:
            raise ConfigError(
                f"validation.batch_buckets must be in 1..n_buckets: {self.batch_buckets}"
            )
        if self.psi_threshold <= 0:
            raise ConfigError(f"validation.psi_threshold must be > 0: {self.psi_threshold}")
        names = []
        for r in self.custom_rules:
            if (
                not isinstance(r, (list, tuple))
                or len(r) != 5
                or not all(isinstance(x, str) and x for x in r)
            ):
                raise ConfigError(
                    "validation.custom_rules entries must be 5 non-empty strings"
                    f" [name, predicate, column, observed, expected]: {r!r}"
                )
            names.append(r[0])
        if len(set(names)) != len(names):
            raise ConfigError(f"validation.custom_rules names must be unique: {names}")
        if bool(self.boundary_first_roles) != bool(self.boundary_last_roles):
            raise ConfigError(
                "validation.boundary_first_roles and boundary_last_roles must be"
                " set together (the boundary check needs both ends of the rule)"
            )
        for a in self.allowed_transitions:
            head, sep, tail = a.partition("->")
            if not sep or not head or not tail:
                raise ConfigError(
                    "validation.allowed_transitions entries must be"
                    f" 'prev->next' with both sides non-empty: {a!r}"
                )


@dataclass
class EngineConfig:
    tables: TablesConfig = field(default_factory=TablesConfig)
    inference: InferenceConfig = field(default_factory=InferenceConfig)
    registry: RegistryConfig = field(default_factory=RegistryConfig)
    performance: PerformanceConfig = field(default_factory=PerformanceConfig)
    validation: ValidationConfig = field(default_factory=ValidationConfig)

    def validate(self) -> "EngineConfig":
        self.inference.validate()
        self.registry.validate()
        self.performance.validate()
        self.validation.validate()
        return self


_SECTIONS = {
    "tables": TablesConfig,
    "inference": InferenceConfig,
    "registry": RegistryConfig,
    "performance": PerformanceConfig,
    "validation": ValidationConfig,
}

ENV_PREFIX = "SCHEMA_INFER_"


def _coerce(raw: str, target_type) -> object:
    """Coerce an env-var string to the dataclass field's type."""
    # an optional field's value coerces to the field's own type
    t = str(target_type).removesuffix(" | None")
    if target_type is bool or "bool" in t:
        return raw.strip().lower() in ("1", "true", "yes", "on")
    if target_type is int or t in ("int", "<class 'int'>"):
        return int(raw)
    if target_type is float or t in ("float", "<class 'float'>"):
        return float(raw)
    if "list" in t:
        return [x.strip() for x in raw.split(",") if x.strip()]
    return raw


def _env_overlay(env: dict[str, str]) -> dict[str, dict[str, str]]:
    """SCHEMA_INFER_<SECTION>_<FIELD>=value → {section: {field: value}}."""
    out: dict[str, dict[str, str]] = {}
    for key, value in env.items():
        if not key.startswith(ENV_PREFIX):
            continue
        rest = key[len(ENV_PREFIX):].lower()
        section, _, fname = rest.partition("_")
        if section in _SECTIONS and fname:
            out.setdefault(section, {})[fname] = value
    return out


def _build_section(cls, data: dict) -> object:
    known = {f.name: f for f in dc_fields(cls)}
    kwargs = {}
    for k, v in data.items():
        if k not in known:
            raise ConfigError(f"unknown key '{k}' in section '{cls.__name__}'")
        if isinstance(v, str):
            v = _coerce(v, known[k].type)
        kwargs[k] = v
    return cls(**kwargs)


def load_config(
    path: str | None = None, env: dict[str, str] | None = None
) -> EngineConfig:
    """Load + validate config: file (YAML by .yaml/.yml, JSON by .json) over
    an env overlay, reference precedence (file wins, config.py:233-236)."""
    file_data: dict = {}
    if path:
        if not os.path.exists(path):
            raise ConfigError(f"config file not found: {path}")
        suffix = os.path.splitext(path)[1].lower()
        with open(path) as f:
            if suffix in (".yaml", ".yml"):
                import yaml

                file_data = yaml.safe_load(f) or {}
            elif suffix == ".json":
                file_data = json.load(f)
            else:
                raise ConfigError(f"unsupported config file format: {suffix}")
    if not isinstance(file_data, dict):
        raise ConfigError("config file must contain a mapping at top level")

    env_data = _env_overlay(os.environ if env is None else env)
    merged: dict[str, dict] = {}
    for section in _SECTIONS:
        sec = dict(env_data.get(section, {}))
        file_sec = file_data.get(section, {})
        if file_sec is not None and not isinstance(file_sec, dict):
            raise ConfigError(f"section '{section}' must be a mapping")
        sec.update(file_sec or {})  # file wins over env
        merged[section] = sec
    unknown = set(file_data) - set(_SECTIONS)
    if unknown:
        raise ConfigError(f"unknown config section(s): {sorted(unknown)}")

    cfg = EngineConfig(
        **{name: _build_section(cls, merged[name]) for name, cls in _SECTIONS.items()}
    )
    return cfg.validate()
