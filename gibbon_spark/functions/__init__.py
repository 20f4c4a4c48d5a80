"""Column-level functions: bit-pattern utilities and text metrics."""
