#!/bin/bash
# Generalized N-vs-4N scaling evidence: pipeline throughput at local[N1]
# vs local[N2] (N2 = 4*N1), bracketed by pure-CPU hardware-ceiling probes
# at the SAME two thread counts. Fresh JVM per measurement.
# Usage: scripts/scaling_pair.sh [N1] [N2] [nEntities]
set -e
N1=${1:-2}
N2=${2:-8}
N=${3:-300000}
cd "$(dirname "$0")/.."
ceiling() {
N1=$N1 N2=$N2 python3 - <<'EOF'
import time, multiprocessing as mp, json, os
def burn(q):
    t0=time.time(); x=0
    for i in range(20_000_000): x+=i*i
    q.put(0)
levels=(int(os.environ["N1"]), int(os.environ["N2"]))
out={}
for n in levels:
    best=None
    for _ in range(2):
        q=mp.Queue(); ps=[mp.Process(target=burn,args=(q,)) for _ in range(n)]
        t0=time.time(); [p.start() for p in ps]; [p.join() for p in ps]
        w=time.time()-t0
        best=w if best is None or w<best else best
    out[n]=n/best
print(json.dumps({"cpu_ceiling_speedup": round(out[levels[1]]/out[levels[0]],2)}))
EOF
}
echo "levels: local[$N1] vs local[$N2], entities: $N"
echo "loadavg: $(cut -d' ' -f1-3 /proc/loadavg)"
C1=$(ceiling); echo "$C1"
# driver heap: half of MemTotal, clamped to 2-8 GB (fits the host, as the tests do)
export SPARK_DRIVER_MEM=${SPARK_DRIVER_MEM:-$(awk '/^MemTotal:/ {g = int($2 / 2097152)} END {print (g < 2 ? 2 : g > 8 ? 8 : g) "g"}' /proc/meminfo)}
T1=$(sbt -batch "runMain graft.ScalingBench $N1 $N" 2>/dev/null | grep -o '{"metric":"pipeline_throughput.*}')
echo "$T1"
T2=$(sbt -batch "runMain graft.ScalingBench $N2 $N" 2>/dev/null | grep -o '{"metric":"pipeline_throughput.*}')
echo "$T2"
C2=$(ceiling); echo "$C2"
python3 - "$T1" "$T2" "$C1" "$C2" "$N1" "$N2" <<'EOF'
import json, sys
t1, t2, c1, c2 = [json.loads(x) for x in sys.argv[1:5]]
n1, n2 = int(sys.argv[5]), int(sys.argv[6])
ratio = n2 / n1
speedup = t2["docs_per_sec"] / t1["docs_per_sec"]
ceiling = (c1["cpu_ceiling_speedup"] + c2["cpu_ceiling_speedup"]) / 2
print(json.dumps({
    "metric": "scaling_efficiency",
    "levels": f"local[{n1}]->local[{n2}]",
    "raw_speedup": round(speedup, 2),
    "raw_efficiency": round(speedup / ratio, 3),
    "host_cpu_ceiling_speedup": round(ceiling, 2),
    "ceiling_normalized_efficiency": round(speedup / ceiling, 3),
    "pages": t1["pages"],
    "docs_per_sec_lo": t1["docs_per_sec"],
    "docs_per_sec_hi": t2["docs_per_sec"],
}))
EOF
