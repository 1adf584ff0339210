#!/usr/bin/env python3
"""Doc-sync gate: every key declared in SparkEntry's query registry must
appear somewhere in SURVEY.md (a reader walks SURVEY's inventory line by
line, so an undocumented key is invisible coverage). Exits nonzero
listing the missing keys, or when it finds no declared keys at all (a
registry format this script no longer parses must not pass vacuously)."""
import re
import sys
import pathlib

root = pathlib.Path(__file__).resolve().parent.parent
entry = (root / "src/main/scala/graft/SparkEntry.scala").read_text()
survey = (root / "SURVEY.md").read_text()

# keys are declared one per line as  Q("q_name", builder, oracleSql)
keys = sorted(set(re.findall(r'\bQ\(\s*"(q_[a-z0-9_]+)"', entry)))
if not keys:
    print("no Q(\"q_...\", ...) declarations found in SparkEntry.scala")
    sys.exit(1)
missing = [k for k in keys if not re.search(rf"\b{k}\b", survey)]

print(f"{len(keys)} declared SparkEntry.queries keys")
if missing:
    print(f"MISSING from SURVEY.md ({len(missing)}):")
    for k in missing:
        print(f"  {k}")
    sys.exit(1)
print("SURVEY.md covers every declared key")
