"""Link-graph benchmark: two seeded workloads timed through the
package's public operators. Entry point: ``python3 perfbench/run.py``."""
