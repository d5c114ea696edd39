"""spark-submit entry point (SURVEY §3.1 lifecycle equivalent).

Launched through the repo-root ``run_job.py`` primary script (spark-submit
runs a script, not a module; see run_job.py), with the package shipped via
--py-files:

    spark-submit --py-files engine.zip run_job.py kg \
        [--config <config.json>]     JSON config file; flags override it
        --input  <documents table path (parquet|iceberg)> \
        --output <output root> \
        [--checkpoint-root <path>]   stage snapshots + lineage + exact resume
        [--dtdl-component skip|flatten|separate]
        [--dtdl-command skip|property]
        [--scaled-decimal json_string|structured|calculated]
        [--entailment rdfs|owl|owl,rdfs]  materialize reasoning layers
        [--definition-json <path>]   driver-side Fabric definition file

The config file mirrors the reference's config.sample.json sections
(``dtdl.component_mode`` / ``command_mode`` / ``scaled_decimal_mode``,
``ontology.name``, ``cdm.flatten_inheritance``) plus engine-local ``io``
(input / input_format / output / checkpoint_root / definition_json /
dtmi_mapping) and ``spark`` (shuffle_partitions) sections; the ``fabric``
REST-client section is out of engine scope (SURVEY S9). Explicit CLI flags
take precedence over the file, matching the reference CLI.

Writes entity_types/, relationship_types/, skipped_items/, issues/ under
the output root and prints a one-line JSON metrics summary. issues/ holds
the RDF preflight, DTDL, CDM and definition-schema validators' rows.
"""

from __future__ import annotations

import argparse
import json
import sys
import time

_DEFAULTS = {
    "input": None, "input_format": "parquet", "output": None,
    "checkpoint_root": None, "dtdl_component": "skip",
    "dtdl_command": "skip", "scaled_decimal": "json_string",
    "definition_json": None, "dtmi_mapping": False, "ontology_name": None,
    "cdm_flatten_inheritance": True, "shuffle_partitions": 200,
    "entailment": "",
}

# (config section, config key) → arg name; sections/keys follow the
# reference's config.sample.json where a counterpart exists
_CONFIG_KEYS = {
    ("io", "input"): "input",
    ("io", "input_format"): "input_format",
    ("io", "output"): "output",
    ("io", "checkpoint_root"): "checkpoint_root",
    ("io", "definition_json"): "definition_json",
    ("io", "dtmi_mapping"): "dtmi_mapping",
    ("dtdl", "component_mode"): "dtdl_component",
    ("dtdl", "command_mode"): "dtdl_command",
    ("dtdl", "scaled_decimal_mode"): "scaled_decimal",
    ("ontology", "name"): "ontology_name",
    ("cdm", "flatten_inheritance"): "cdm_flatten_inheritance",
    ("reasoning", "entailment"): "entailment",
    ("spark", "shuffle_partitions"): "shuffle_partitions",
}


def load_config(path: str) -> dict:
    """config.json → flat {arg_name: value}; unknown keys are ignored
    (the reference's fabric/logging sections have no engine counterpart)."""
    with open(path) as f:
        cfg = json.load(f)
    out = {}
    for (section, key), arg in _CONFIG_KEYS.items():
        val = cfg.get(section, {}).get(key)
        if val is not None:
            out[arg] = val
    return out


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__)
    p.add_argument("--config", default=None,
                   help="JSON config file (flags override its values)")
    # argparse defaults are all None so that 'flag was explicitly passed'
    # is detectable; precedence = CLI flag > config file > _DEFAULTS
    p.add_argument("--input", default=None)
    p.add_argument("--input-format", default=None,
                   choices=["parquet", "iceberg"])
    p.add_argument("--output", default=None)
    p.add_argument("--checkpoint-root", default=None)
    p.add_argument("--dtdl-component", default=None,
                   choices=["skip", "flatten", "separate"])
    p.add_argument("--dtdl-command", default=None,
                   choices=["skip", "property", "entity"])
    p.add_argument("--scaled-decimal", default=None,
                   choices=["json_string", "structured", "calculated"])
    p.add_argument("--definition-json", default=None)
    p.add_argument("--dtmi-mapping", action="store_const", const=True,
                   default=None,
                   help="also write the dtmi→fabric-id mapping table")
    p.add_argument("--ontology-name", default=None,
                   help="definition display name (default: first "
                        "owl:Ontology label in the corpus)")
    p.add_argument("--entailment", default=None,
                   help="comma-set of reasoning layers to materialize "
                        "over the RDF triples before graph building: "
                        "'rdfs', 'owl', or 'owl,rdfs' (default: none)")
    p.add_argument("--shuffle-partitions", type=int, default=None)
    cli = p.parse_args(argv)

    merged = dict(_DEFAULTS)
    if cli.config:
        merged.update(load_config(cli.config))
    for k in _DEFAULTS:
        v = getattr(cli, k, None)
        if v is not None:
            merged[k] = v
    if not merged["input"] or not merged["output"]:
        p.error("--input and --output are required (flag or config io.*)")
    args = argparse.Namespace(**merged)

    from .operators.dtdl import DtdlModes
    from .operators.metrics import ontology_name, skipped_rollup, success_rate
    from .operators.validate import (cdm_issues, definition_schema_issues,
                                     dtdl_issues, preflight_issues)
    from .plans.unified import run_unified
    from .session import build_session
    from .sources.documents import read_documents
    from .sources.sinks import (create_definition, definition_parts_df,
                                write_table)

    from pyspark.sql import SparkSession
    existing = SparkSession.getActiveSession()
    spark = existing or build_session(
        app="kg-construct", shuffle_partitions=args.shuffle_partitions)
    t0 = time.time()
    docs = read_documents(spark, args.input, args.input_format)

    modes = DtdlModes(component=args.dtdl_component,
                      command=args.dtdl_command,
                      scaled_decimal=args.scaled_decimal)

    layers = tuple(x.strip() for x in str(args.entailment).split(",")
                   if x.strip())
    uni = run_unified(spark, docs, modes,
                      cdm_flatten_inheritance=args.cdm_flatten_inheritance,
                      entailment=layers)
    triples = uni.rdf.triples

    def source_issues():
        """Issues of the input, one validator per front-end."""
        return (preflight_issues(triples)
                .unionByName(dtdl_issues(uni.interfaces))
                .unionByName(cdm_issues(uni.cdm_entities,
                                        uni.cdm_relationships)))

    if args.checkpoint_root:
        from .plans.checkpoint import CheckpointManager
        cp = CheckpointManager(spark, args.checkpoint_root)
        ents = cp.stage("unified_entities", lambda: uni.entity_types)
        rels = cp.stage("unified_relationships",
                        lambda: uni.relationship_types)
        skipped = cp.stage("unified_skipped", lambda: uni.skipped_items)
        issues = cp.stage("issues", source_issues)
    else:
        ents, rels, skipped = (uni.entity_types, uni.relationship_types,
                               uni.skipped_items)
        issues = source_issues()

    write_table(ents, f"{args.output}/entity_types")
    write_table(rels, f"{args.output}/relationship_types")
    write_table(skipped, f"{args.output}/skipped_items")
    # structural re-validation of the engine's own serialized output
    # (reference: src/core/validators/fabric_schema.py) — catches sink
    # regressions before any upload
    schema_issues = definition_schema_issues(definition_parts_df(ents, rels))
    all_issues = issues.unionByName(schema_issues)
    write_table(all_issues, f"{args.output}/issues")
    from .operators.metrics import compliance_report
    write_table(compliance_report(all_issues), f"{args.output}/compliance")
    if args.dtmi_mapping:
        from .operators.dtdl import dtmi_mapping
        write_table(dtmi_mapping(ents), f"{args.output}/dtmi_mapping")

    if args.definition_json:
        # explicit name wins, like the reference CLI's --ontology-name
        # (reference: src/app/cli/commands/unified/convert.py:263)
        name = args.ontology_name or ontology_name(triples)
        definition = create_definition(ents, rels, name)
        with open(args.definition_json, "w") as f:
            json.dump(definition, f, indent=2)

    summary = {
        "entity_types": ents.count(),
        "relationship_types": rels.count(),
        "skipped": skipped.count(),
        "skipped_by_type": {r["item_type"]: r["n"]
                            for r in skipped_rollup(skipped).collect()},
        "success_rate": round(success_rate(ents, rels, skipped), 4),
        "wall_sec": round(time.time() - t0, 2),
    }
    print(json.dumps(summary))
    if existing is None:
        spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
