"""Grid-path benchmark: store scan, interactive session and anomaly
write-back through the public grid API, checked against a numpy oracle.

Entry point: ``python3 gridbench/run.py --workload <name> --seed <n>
--seconds <s> --trace <0|1>`` from the repository root.
"""
