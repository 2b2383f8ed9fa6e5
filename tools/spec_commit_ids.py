#!/usr/bin/env python3
"""Print the registry ids whose code constructs or resumes an Iceberg-spec
`IcebergFormat.Writer` (one comma-separated line, ready for SPARK_GRAFT_ONLY).

How: grep IceQueries, MvQueries, StreamQueries and every file under ops/ for
the Writer's entry points (`IcebergFormat.Writer`, `resumeWriter`,
`appendWithRetry`, `publishEdits`) and for the library calls that resume one
(`exportIceberg`, `TableStats.analyze`/`computePartitionStats`,
`DeletionVectors.deleteWhere`) and for the connector's DataFrame write into
a spec directory (`.write.format("icelite").option("iceberg", "true")`,
which commits through the Writer); take the member each hit sits in, then every
member of the same file that calls a marked one (MatView's through
`MatView.<name>`), until nothing changes; print the `Q("id", fn, ...)`
entries whose `fn` is marked. Queries that reach the Writer only through
SQL (an INSERT into a native Iceberg directory) are not found.

Run from the repository root: python3 tools/spec_commit_ids.py
"""
import glob
import re

files = (['src/main/scala/graft/queries/IceQueries.scala',
          'src/main/scala/graft/queries/MvQueries.scala',
          'src/main/scala/graft/streaming/StreamQueries.scala'] +
         sorted(glob.glob('src/main/scala/graft/ops/*.scala')))
hit = re.compile(r'IcebergFormat\.Writer|resumeWriter|appendWithRetry|publishEdits|'
                 r'exportIceberg|TableStats\.(analyze|computePartitionStats)|'
                 r'DeletionVectors\.deleteWhere|'
                 r'write\.format\("icelite"\)\.option\("iceberg", "true"\)')
member = re.compile(r'^  (?:private(?:\[\w+\])? )?(?:final )?def (\w+)')

bodies = {}  # (file, def name) -> its text, up to the next member at its indent
for f in files:
    lines = open(f).read().split('\n')
    for i, line in enumerate(lines):
        m = member.match(line)
        if m:
            end = next((k for k in range(i + 1, len(lines))
                        if re.match(r'^  [^ }]', lines[k])), len(lines))
            bodies[(f, m.group(1))] = '\n'.join(lines[i:end])

marked = {k for k, body in bodies.items() if hit.search(body)}
while True:
    callers = set()
    for f0, name in marked:
        if name == 'all':  # the registry list itself
            continue
        qualified = 'MatView.' + name if f0.endswith('MatView.scala') else None
        for (f, n), body in bodies.items():
            if (f, n) not in marked and (
                    (f == f0 and re.search(r'\b' + name + r'\b', body)) or
                    (qualified and qualified in body)):
                callers.add((f, n))
    if not callers:
        break
    marked |= callers

ids = [m.group(1) for f in files
       for m in re.finditer(r'Q\(\s*"(\w+)",\s*(\w+)', open(f).read())
       if (f, m.group(2)) in marked]
print(','.join(ids))
