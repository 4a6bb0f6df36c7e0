#!/bin/sh
# Pre-snapshot hygiene gate (round-9 lesson: the end-of-round
# auto-snapshot commits WHATEVER is in the working tree, and half-written
# WIP broke HEAD for two rounds). Run this before walking away from the
# tree; green output = the snapshot commit will compile and pass tests.
#
#   tools/precommit.sh         # compile + full test suite + perfbench unit tests
#   tools/precommit.sh fast    # compile only (~10s warm)
#
# The full driver-shaped gate (Verify + DuckDB selfcheck) stays in
# .claude/skills/verify/SKILL.md; this script is the cheap floor that
# must ALWAYS hold at round end.
set -e
cd "$(dirname "$0")/.."
if [ "$1" = "fast" ]; then
  sbt -batch compile Test/compile
else
  sbt -batch compile test
  python3 -m unittest discover -s perfbench/tests
fi
echo "precommit: green"
