#!/usr/bin/env python3
"""Where the executor threads' CPU samples sit, from a JFR recording.

Usage:
    jfr print --events jdk.ExecutionSample --stack-depth 256 rec.jfr > samples.txt
    python3 tools/jfr_top.py samples.txt [--top N] [--threads REGEX]
                             [--incl SUBSTR ...]

Reads `jfr print` text (a file, or `-` for stdin) and prints, over the
samples whose thread name matches --threads (default: Spark's executor task
threads):

  * the top self frames (the sampled frame itself);
  * the top first `graft.` frames (the innermost engine frame on the stack,
    so JDK and Spark frames are charged to the engine code that called
    them; `(no graft frame)` collects the rest);
  * for each --incl substring, the inclusive share: the fraction of samples
    with at least one frame containing it.

`jfr print` keeps 5 frames per stack unless told otherwise, which hides
most callers: pass a --stack-depth deep enough for Spark's task stacks.
A frame is shown as `Class.method` without its signature or line.

Stdlib only. Record with
    java -XX:StartFlightRecording=filename=rec.jfr,settings=profile ... <main>
"""
import argparse
import collections
import re
import sys

EXECUTOR_THREADS = r"^Executor task launch worker"


def frame_name(line):
    """`pkg.Class.method(args) line: N` -> `pkg.Class.method`."""
    line = line.strip()
    paren = line.find("(")
    return line[:paren] if paren >= 0 else line


def samples(lines):
    """Yield (thread name, [frames, innermost first]) per ExecutionSample."""
    thread, frames, in_stack = None, [], False
    for raw in lines:
        line = raw.strip()
        if line.startswith("jdk.ExecutionSample"):
            thread, frames, in_stack = None, [], False
        elif line.startswith("sampledThread"):
            m = re.search(r'"(.*)"', line)
            thread = m.group(1) if m else line.split("=", 1)[-1].strip()
        elif line.startswith("stackTrace = ["):
            in_stack = True
        elif in_stack and line == "]":
            in_stack = False
        elif in_stack and line and line != "...":
            frames.append(frame_name(line))
        elif line == "}" and thread is not None:
            yield thread, frames
            thread, frames = None, []


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("path", help="`jfr print` output, or - for stdin")
    ap.add_argument("--top", type=int, default=15)
    ap.add_argument("--threads", default=EXECUTOR_THREADS,
                    help="regex on the sampled thread name")
    ap.add_argument("--incl", nargs="*", default=[],
                    help="frame substrings to report inclusive shares for")
    args = ap.parse_args(argv)

    src = sys.stdin if args.path == "-" else open(args.path, encoding="utf-8", errors="replace")
    thread_re = re.compile(args.threads)
    self_ct, graft_ct, incl_ct = collections.Counter(), collections.Counter(), collections.Counter()
    total = 0
    with src:
        for thread, frames in samples(src):
            if not frames or not thread_re.search(thread):
                continue
            total += 1
            self_ct[frames[0]] += 1
            graft_ct[next((f for f in frames if f.startswith("graft.")), "(no graft frame)")] += 1
            for sub in args.incl:
                if any(sub in f for f in frames):
                    incl_ct[sub] += 1

    print(f"samples on matching threads: {total}")
    if total == 0:
        return 1

    def table(title, counter):
        print(f"\n{title}")
        for name, n in counter.most_common(args.top):
            print(f"{100.0 * n / total:6.1f} %  {n:7d}  {name}")

    table("top self frames", self_ct)
    table("top first graft.* frames", graft_ct)
    if args.incl:
        print("\ninclusive shares")
        for sub in args.incl:
            print(f"{100.0 * incl_ct[sub] / total:6.1f} %  {incl_ct[sub]:7d}  {sub}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
