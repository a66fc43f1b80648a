#!/bin/bash
# Suite-green guard (round-10 process fix for the r9 stale-spec ship):
# refuse to commit if test sources don't compile. Full `sbt test` is the
# bar for claims; this catches the cheap-and-common failure (a main-only
# refactor that strands a spec) in ~30 s. Skip the compile with
# GRAFT_SKIP_PRECOMMIT=1.
cd "$(git rev-parse --show-toplevel)"
# A literal NUL byte makes git treat a source file as binary, so its
# diffs show no lines; write such characters as "\u0000" instead.
if nul=$(git grep -l -P '\x00' -- '*.scala'); then
  echo "NUL bytes in source files (write \"\\u0000\" instead):" >&2
  echo "$nul" >&2
  exit 1
fi
# An unclosed Files.list / Files.walk stream keeps its file descriptor
# open, and a hand-rolled commit record (link, create-new marker,
# replacing move) drifts from the shared first-writer-wins protocol:
# these calls live in DirIO.scala and Generations.scala only.
if raw=$(git grep -n -e 'Files\.list(' -e 'Files\.walk(' -e 'Files\.createLink(' \
    -e 'Files\.createFile(' -e 'REPLACE_EXISTING' \
    -- src/main ':!src/main/scala/graft/DirIO.scala' \
    ':!src/main/scala/graft/Generations.scala'); then
  echo "Files.list/walk/createLink/createFile or REPLACE_EXISTING outside DirIO and Generations (use them):" >&2
  echo "$raw" >&2
  exit 1
fi
# The CDC path is the one stateful stream: keyed state, watermarks and
# streaming dedup live in StreamPipeline.scala only.
if raw=$(git grep -n -e '\.flatMapGroupsWithState(' -e '\.transformWithState(' \
    -e '\.withWatermark(' -e '\.dropDuplicatesWithinWatermark(' \
    -- src/main ':!src/main/scala/graft/streaming/StreamPipeline.scala'); then
  echo "stateful stream operators outside StreamPipeline.scala:" >&2
  echo "$raw" >&2
  exit 1
fi
# Every `main` in src/main is a driver entry point or a kept tool; a dev
# probe whose question is answered leaves its artifact in bench_results/
# and is deleted, not kept as another main. A new main joins this list.
mains="Bench Verify PlanShapes ScaleGen ScaleLadder ScaleProbe"
stray=$(git grep -l -e 'def main(' -- src/main | while read -r f; do
  case " $mains " in *" $(basename "$f" .scala) "*) ;; *) echo "$f" ;; esac
done)
if [ -n "$stray" ]; then
  echo "def main( outside the allowlist in tools/precommit.sh:" >&2
  echo "$stray" >&2
  exit 1
fi
[ -n "$GRAFT_SKIP_PRECOMMIT" ] && exit 0
exec sbt -batch Test/compile
