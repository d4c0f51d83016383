#!/usr/bin/env python3
"""Guard: every declared query key appears in SURVEY.md §7.7.

Expands the section's `name_{a,b,c}` brace-group shorthand, then diffs
against the names declared in `SparkEntry.registry`. Exits non-zero on
drift — run before committing a round's SURVEY refresh (the §7.7 prose
drifted by exactly one operator in each of rounds 7 and 8).
"""
import re, sys

def main():
    src = open('src/main/scala/graft/SparkEntry.scala').read()
    reg = src[src.index('val registry'):src.index('lazy val queries')]
    keys = set(re.findall(r'^    Query\("([a-z0-9_]+)"', reg, re.M))
    survey = open('SURVEY.md').read()
    i77 = survey.index('### 7.7')
    m = re.search(r'\n### (?!7\.7)', survey[i77:])
    sec = survey[i77: i77 + (m.start() if m else len(survey))]
    mentioned = set()
    for base, grp in re.findall(r'`([a-z0-9_]+)_\{([^}]+)\}`', sec, re.S):
        for part in re.split(r'\s*,\s*', grp.replace('\n', '')):
            mentioned.add(f"{base}_{part.strip()}")
    for name in re.findall(r'`([a-z0-9_]+)`', sec):
        mentioned.add(name)
    missing = sorted(keys - mentioned)
    ghosts = sorted(
        x for x in mentioned if x not in keys and
        re.match(r'^(q\d|q_|ev_|text_|mm_|sim_|dedup_|embed_|stream_)', x))
    print(f"{len(keys)} declared keys; "
          f"missing from 7.7: {missing}; ghosts in 7.7: {ghosts}")
    return 1 if (missing or ghosts) else 0

if __name__ == "__main__":
    sys.exit(main())
