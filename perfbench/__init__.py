"""Repository benchmark: Canvas Data sync cycles, analyst SQL and corpus
curation, driven through the engine's public functions. Entry point:
``python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>``.
"""
