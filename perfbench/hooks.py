"""Span wrappers the traced pass installs around the program's public entry
points.  Each wrapper replaces a module or class attribute for the length
of the pass and is restored afterwards; callers that look the attribute up
at call time (``storage.write_samples(...)``, ``Engine.query``, the names
``stdb_spark.engine`` imported from the query package) record a span
named ``<layer>.<function>``."""

from __future__ import annotations

from perfbench.measure import Tracer

# (module path, attribute owner, attribute name, span name)
TARGETS = (
    ("stdb_spark.engine", "Engine", "query", "engine.query"),
    ("stdb_spark.engine", "Engine", "search", "engine.search"),
    ("stdb_spark.engine", "Engine", "suggest", "engine.suggest"),
    ("stdb_spark.engine", None, "parse_query", "query.parse"),
    ("stdb_spark.query.parser", None, "parse_search_query", "query.parse"),
    ("stdb_spark.query.parser", None, "parse_suggest_query", "query.parse"),
    ("stdb_spark.engine", None, "apply_pipeline", "query.apply"),
    ("stdb_spark.sources.resp", None, "parse_resp_full", "sources.parse_resp"),
    ("stdb_spark.sources.resp", None, "parse_resp_pdus", "sources.parse_resp"),
    ("stdb_spark.sources.resp", None, "parse_resp_events", "sources.parse_resp"),
    ("stdb_spark.sources.storage", None, "write_samples", "sources.write_samples"),
    ("stdb_spark.sources.storage", None, "read_samples", "sources.read_samples"),
    (
        "stdb_spark.sources.storage",
        None,
        "update_summary_incremental",
        "sources.update_summary",
    ),
)


def install(tracer: Tracer):
    """Install every wrapper; returns a function that removes them."""
    import importlib

    restore = []
    for mod_name, owner_name, attr, span in TARGETS:
        mod = importlib.import_module(mod_name)
        owner = getattr(mod, owner_name) if owner_name else mod
        orig = getattr(owner, attr)
        restore.append((owner, attr, orig))
        setattr(owner, attr, tracer.wrap(span, orig))

    from stdb_spark import model

    orig_binding = model.session_binding

    def session_binding(spark, key, build):
        built = []

        def counted_build():
            built.append(True)
            return build()

        with tracer.span("model.session_binding") as s:
            out = orig_binding(spark, key, counted_build)
            s.counts["binding_hit"] = 0 if built else 1
        return out

    restore.append((model, "session_binding", orig_binding))
    model.session_binding = session_binding

    def uninstall() -> None:
        for owner, attr, orig in reversed(restore):
            setattr(owner, attr, orig)

    return uninstall
