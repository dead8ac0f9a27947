"""Benchmark of the CDC delivery path and the analytics registry; run with
`python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>`."""
