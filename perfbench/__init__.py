"""CDC lake engine benchmark; entry point: perfbench/run.py."""
