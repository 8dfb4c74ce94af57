#!/usr/bin/env bash
# Static-plan identity between two checkouts of this repository.
#
#   SPARK_GRAFT_SF_DIR=<data dir> tools/plan_identity.sh <parent-checkout> <change-checkout> [rename-sed-file]
#
# Dumps `graft.Probe plan` for every registered query on both checkouts
# (the change side expands `all`; the parent side is given the same names
# explicitly, so a parent whose Probe predates `all` works too), strips
# what legitimately differs between two runs, then diffs:
#   - expression ids (`#123`) and `plan_id=` tags,
#   - /tmp index dirs, including TempDirs' random suffixes
#     (`graft-gate4…`, `graft_q166_ann…`, `graft-fixedix…`),
#   - the `file:line` call site Spark prints for a checkpoint scan's RDD
#     (it moves whenever the line that checkpoints moves),
#   - JVM identity hashes and lambda class numbers (`Typed$$$Lambda$6779/
#     0x…@20c537ad`, `Typed$TotalValue$@2f3dea8e`), new in every JVM.
# A plan can also depend on what the JVM planned before it: expression ids
# are one global counter, and e.g. the Expand of a multi-distinct aggregate
# orders its projections by them (q22's distinct counts flip between two
# runs of one tree). So every query whose plans still differ is planned
# again, alone, on both sides, and only a difference that survives that
# counts.
# The optional sed file maps old object names to new ones (one `s/old/new/g`
# per line) and is applied to both dumps, for a refactor that renames an
# object that appears in a plan. Exit status 0 and `IDENTICAL` when the
# normalized dumps match; the dumps and the diff stay in the printed
# directory either way.
set -euo pipefail

[ $# -ge 2 ] && [ $# -le 3 ] || {
  echo "usage: SPARK_GRAFT_SF_DIR=<data dir> $0 <parent-checkout> <change-checkout> [rename-sed-file]" >&2
  exit 2
}
sf="${SPARK_GRAFT_SF_DIR:?set SPARK_GRAFT_SF_DIR to the data dir to plan against}"
parent=$(cd "$1" && pwd)
change=$(cd "$2" && pwd)
renames="${3:-/dev/null}"
[ -r "$renames" ] || { echo "cannot read $renames" >&2; exit 2; }
out=$(mktemp -d "${TMPDIR:-/tmp}/plan_identity.XXXXXX")

dump() { # <checkout> <query names...>
  local dir=$1; shift
  (cd "$dir" && sbt -batch "runMain graft.Probe plan $sf $*" 2>/dev/null) | grep -v '^\['
}

normalize() {
  sed -E 's/#[0-9]+//g; s/plan_id=[0-9]+//g; s/graft_[a-z0-9]+_dix[0-9]+/DIX/g;
      s#/tmp/graft[-_][A-Za-z0-9_-]*[0-9]{6,}#/tmp/TMPDIR#g;
      s/[A-Za-z]+RDD\[[0-9]+\] at [A-Za-z]+ at [A-Za-z0-9]+\.scala:[0-9]+/RDD/g;
      s#\$\$Lambda\$?[0-9]+/0x[0-9a-f]+@[0-9a-f]+#$$Lambda#g; s/\$@[0-9a-f]+/$@/g' |
    sed -f "$renames"
}

split() { # <normalized dump> <dir>: one file per query
  mkdir -p "$2"
  awk -v d="$2" '/^================ .* ================$/ { f = d "/" $2 ".txt" } f { print > f }' "$1"
}

differing() { # <dir a> <dir b>: names of queries whose plans differ
  for n in $names; do cmp -s "$1/$n.txt" "$2/$n.txt" || echo "$n"; done
}

dump "$change" all > "$out/change.raw"
names=$(sed -nE 's/^================ (.+) ================$/\1/p' "$out/change.raw" | tr '\n' ' ')
[ -n "$names" ] || { echo "no plans dumped from $change (see $out/change.raw)" >&2; exit 1; }
dump "$parent" $names > "$out/parent.raw"

normalize < "$out/parent.raw" > "$out/parent.txt"
normalize < "$out/change.raw" > "$out/change.txt"
split "$out/parent.txt" "$out/parent"
split "$out/change.txt" "$out/change"
echo "$(wc -w <<< "$names") queries; dumps in $out"
again=$(differing "$out/parent" "$out/change" | tr '\n' ' ')
if [ -n "$again" ]; then
  echo "planning again, alone on each side: $again"
  for n in $again; do
    for side in parent change; do
      dir=$parent; [ $side = change ] && dir=$change
      dump "$dir" "$n" | normalize > "$out/$side/$n.txt"
    done
  done
  names=$again
fi
left=$(differing "$out/parent" "$out/change" | tr '\n' ' ')
if [ -z "$left" ]; then
  echo IDENTICAL
else
  for n in $left; do diff "$out/parent/$n.txt" "$out/change/$n.txt"; done > "$out/plans.diff"
  echo "plans differ: $left(see $out/plans.diff)"
  exit 1
fi
