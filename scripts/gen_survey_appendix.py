#!/usr/bin/env python3
"""Generate SURVEY_APPENDIX.md — the machine-checked registry table.

Usage: python3 scripts/gen_survey_appendix.py <verifyOutDir>

One row per registry entry: name, defining file:line (the QueryDef
call), oracle kind, and the spec files that mention the entry by name.
Data sources, so the table cannot go stale silently:

  - entry names + oracle KIND come from <verifyOutDir>/oracle_sql.json
    (a graft.Verify dump): an oracle whose text carries the SF-PINNED
    snapshot header is a regression pin, anything else is an
    independent DuckDB recomputation;
  - file:line comes from scanning src/main/scala for the QueryDef
    literal;
  - specs come from scanning src/test/scala for the entry name.

Regenerate after any registry change (the check-in is reviewed like a
snapshot); SurveyAppendixSpec asserts the committed table matches the
live registry.
"""
import json
import os
import re
import sys

OUT = sys.argv[1] if len(sys.argv) > 1 else "/tmp/verify_out"
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

oracle = json.load(open(f"{OUT}/oracle_sql.json"))

# name -> (file, line) of the QueryDef literal
defs = {}
main_root = os.path.join(REPO, "src/main/scala")
for dirpath, _, files in os.walk(main_root):
    for fn in sorted(files):
        if not fn.endswith(".scala"):
            continue
        path = os.path.join(dirpath, fn)
        rel = os.path.relpath(path, REPO)
        lines = open(path, encoding="utf-8").read().split("\n")
        for i, line in enumerate(lines):
            m = re.match(r'\s*"([a-z0-9_]+)",\s*$', line)
            if m and i > 0 and "QueryDef(" in lines[i - 1]:
                name = m.group(1)
                assert name not in defs, f"duplicate QueryDef for {name}"
                defs[name] = (rel, i)  # 1-based line of QueryDef(

# name -> spec files mentioning it
spec_files = []
test_root = os.path.join(REPO, "src/test/scala")
for dirpath, _, files in os.walk(test_root):
    for fn in sorted(files):
        if fn.endswith("Spec.scala"):
            path = os.path.join(dirpath, fn)
            spec_files.append((fn[:-len(".scala")],
                               open(path, encoding="utf-8").read()))

rows = []
for name in sorted(oracle):
    sql = oracle[name]
    kind = "snapshot-pin" if sql.lstrip().startswith("-- SF-PINNED") \
        else "recompute"
    f, l = defs[name]
    # literal mentions first; entries whose specs exercise the
    # underlying FUNCTIONS rather than the registry string fall back to
    # a name-derived match (entry stem vs spec-class stem), then to the
    # suites driving the defining module object (marked "module:")
    specs = [s for s, body in spec_files if f'"{name}"' in body]
    parts = re.sub(r"^(st|[a-z])_", "", name).split("_")
    if not specs:
        stem = "".join(parts)

        def names_entry(spec, body):
            # the spec's name holds the entry's whole stem or begins it
            # (ZOrderSpec -> q_zorder_code); a fragment from further in
            # claims the entry only if the suite names the other parts
            # too (VerifySpec does not claim d_fuzzy_verify, nor the BMP
            # ThumbnailSpec m_png_thumbnail)
            spec_stem = spec.lower().removesuffix("spec")
            if stem in spec_stem or stem.startswith(spec_stem):
                return True
            text = body.lower()
            return spec_stem in stem and all(
                p in spec_stem or p in text for p in parts)
        specs = [s for s, body in spec_files if names_entry(s, body)]
    if not specs:
        # camelCase of the stem is usually the underlying function name
        # (f_base_domain -> baseDomain in NetFunctionsSpec)
        camel = parts[0] + "".join(p.capitalize() for p in parts[1:])
        specs = [s for s, body in spec_files
                 if re.search(rf"\b{camel}\b", body)]
    if not specs:
        # a suite drives the module when it calls a member of it (a
        # lowerCamel method or value); naming only a constant, as
        # SparkSpec names DmarcIngest.SamplesConf, does not count, nor
        # does naming its source file (`Multimodal.scala`)
        module = os.path.basename(f).removesuffix(".scala")
        hits = [s for s, body in spec_files
                if re.search(rf"\b{module}\.(?!scala\b)[a-z]", body)
                and s not in ("PlanAuditSpec", "QueriesSmokeSpec")]
        specs = [f"module: {', '.join(hits)}"] if hits else []
    rows.append((name, f"{f}:{l}", kind, ", ".join(specs) or "—"))

missing = sorted(set(defs) - set(oracle))
assert not missing, f"registry entries missing an oracle: {missing}"

n_pin = sum(1 for r in rows if r[2] == "snapshot-pin")
with open(os.path.join(REPO, "SURVEY_APPENDIX.md"), "w", encoding="utf-8") as out:
    out.write("# SURVEY §2 appendix — machine-generated registry table\n\n")
    out.write(f"Generated by `scripts/gen_survey_appendix.py` from a graft.Verify\n"
              f"dump; regenerate after any registry change. **{len(rows)} entries, "
              f"{len(rows) - n_pin} independent DuckDB recomputation oracles, "
              f"{n_pin} SF-pinned snapshot oracles** (deterministic outputs with\n"
              f"no SQL twin — xxhash64 / seeded projections / JVM codecs — whose\n"
              f"independent semantic checks live in the listed specs).\n\n")
    out.write("Spec column: suites naming the entry or its underlying function\n"
              "(literal, camelCase-derived, or `module:` = suites driving the\n"
              "defining module object). `—` = the entry's check is its\n"
              "independent DuckDB recomputation oracle alone — the declarative\n"
              "relational queries, where the oracle is the complete semantics.\n\n")
    out.write("| entry | defined at | oracle | specs naming it |\n")
    out.write("|---|---|---|---|\n")
    for name, loc, kind, specs in rows:
        out.write(f"| {name} | {loc} | {kind} | {specs} |\n")
print(f"SURVEY_APPENDIX.md: {len(rows)} entries ({n_pin} pinned)")
